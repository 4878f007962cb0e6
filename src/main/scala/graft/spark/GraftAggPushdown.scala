package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DSv2 partial aggregate pushdown for the graft scans (SURVEY §2.7's
  * row-count harness, generalized): grouped or ungrouped MIN / MAX /
  * COUNT(col) / COUNT(*) / SUM batteries evaluate INSIDE the scan (and
  * AVG rides for free — V2ScanRelationPushDown rewrites it to SUM/COUNT
  * when only partial pushdown is offered), so a query
  * like `SELECT region, min(ts), max(ts), count(*) FROM graft_json GROUP
  * BY region` parses only the referenced columns (everything else is
  * byte-skipped by the pruned plate) and ships one partial row per group
  * per partition instead of materializing every record. Spark plans the
  * final merge (min-of-mins, sum-of-counts) on top — partial pushdown
  * keeps multi-split parallelism and needs no exactness trust in the
  * source beyond what the normal row scan already provides.
  *
  * Scale stance (100 TB): per-partition state is one entry per distinct
  * group, the same footprint as Spark's own map-side partial aggregate —
  * except ours cannot spill. So the hash state is CAPPED (default 64k
  * groups): once full, further unseen keys are emitted as singleton
  * partial rows (count=1/0, min=max=value), which the final aggregate
  * merges identically. High-cardinality group-bys therefore degrade to
  * exactly the unpushed plan's shuffle volume instead of OOMing.
  */
object GraftAgg {

  /** One pushed aggregate function; `col == null` only for COUNT(*). */
  sealed trait Func { def col: String }
  case object FCountStar extends Func { val col: String = null }
  final case class FCount(col: String) extends Func
  final case class FMin(col: String, dt: DataType) extends Func
  final case class FMax(col: String, dt: DataType) extends Func

  /** SUM(col). Integral inputs accumulate in a Long with OVERFLOW
    * DETECTION: when the next add would overflow, the reader emits the
    * group's current state as an extra partial row and starts a fresh
    * accumulator — our side never wraps, so the FINAL merge Sum (which
    * keeps the query's original evalMode; V2 translation drops it, see
    * V2ExpressionBuilder's Sum branch) applies the session's overflow
    * semantics itself: legacy wraps (mod-2^64 addition is associative, so
    * piece-splitting is exact), ANSI raises, try_sum nulls. Any answer we
    * produce equals vanilla Spark's under some legitimate partitioning of
    * the same rows. Float/double inputs accumulate in Double — Sum's
    * update casts every value to its result type, so the per-partition
    * fold is bit-identical to Spark's own partial aggregate over the same
    * file-order rows. `integral` decides which accumulator is live;
    * `outDt` is LongType or DoubleType accordingly (the type the planner
    * wires the final merge Sum onto).
    */
  final case class FSum(col: String, inDt: DataType, integral: Boolean) extends Func {
    def outDt: DataType = if (integral) LongType else DoubleType
  }

  /** SUM over a DecimalType column: accumulates in an unbounded
    * java.math.BigDecimal with the same piece-splitting trick as the Long
    * lane — when the next add would leave the OUTPUT type's range, the
    * group's running state is emitted as an extra partial row and a fresh
    * accumulator starts (a single value always fits: the input's
    * precision is ≤ the output's at the same scale). The final merge Sum
    * then applies the session's overflow semantics itself (ANSI raises,
    * legacy nulls, try_sum nulls). `outDt` is the result type Catalyst's
    * Sum declares for this input — DecimalType.bounded(p+10, s) — which
    * is the column type the planner wires the final merge onto.
    */
  final case class FSumDec(col: String, inDt: DecimalType) extends Func {
    // DecimalType.bounded is private[sql]; same formula (Sum.resultType)
    def outDt: DecimalType =
      DecimalType(math.min(inDt.precision + 10, DecimalType.MAX_PRECISION),
        math.min(inDt.scale, DecimalType.MAX_SCALE))
  }

  final case class Spec(groupCols: Seq[(String, DataType)], funcs: Seq[Func]) {

    /** Columns the parser must materialize (group keys + agg inputs),
      * in table-schema order; the rest stay on the byte-skip path.
      */
    def parseSchema(full: StructType): StructType = {
      val needed = (groupCols.map(_._1) ++ funcs.flatMap(f => Option(f.col))).toSet
      StructType(full.fields.filter(f => needed(f.name)))
    }

    /** Scan output: group columns first, then one column per aggregate —
      * the shape V2ScanRelationPushDown wires its final merge onto.
      */
    def outputSchema: StructType = StructType(
      groupCols.map { case (n, dt) => StructField(n, dt) } ++
        funcs.map {
          case FCountStar   => StructField("count(*)", LongType, nullable = false)
          case FCount(c)    => StructField(s"count($c)", LongType, nullable = false)
          case FMin(c, dt)  => StructField(s"min($c)", dt)
          case FMax(c, dt)  => StructField(s"max($c)", dt)
          case f: FSum      => StructField(s"sum(${f.col})", f.outDt)
          case f: FSumDec   => StructField(s"sum(${f.col})", f.outDt)
        })

    override def toString: String =
      funcs.map {
        case FCountStar => "count(*)"
        case FCount(c) => s"count($c)"
        case FMin(c, _) => s"min($c)"
        case FMax(c, _) => s"max($c)"
        case FSum(c, _, _) => s"sum($c)"
        case FSumDec(c, _) => s"sum($c)"
      }.mkString(",") +
        (if (groupCols.isEmpty) "" else s" group by ${groupCols.map(_._1).mkString(",")}")
  }

  private def singleName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  /** Types we can hash (group keys) and order (min/max): atomic and
    * comparable via their JVM boxed form. Arrays/structs/maps/binary are
    * refused — Spark then runs the aggregate itself over the pruned scan.
    */
  private def atomic(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Translate a Spark [[Aggregation]] into a [[Spec]]; None refuses the
    * pushdown (any unsupported function/column/type rejects the whole
    * aggregation — partial pushdown is all-or-nothing per scan).
    */
  def translate(agg: Aggregation, full: StructType): Option[Spec] = {
    def field(n: String): Option[StructField] = full.fields.find(_.name == n)
    val groups = agg.groupByExpressions.toSeq.map(e =>
      singleName(e).flatMap(field).filter(f => atomic(f.dataType))
        .map(f => (f.name, f.dataType)))
    if (groups.exists(_.isEmpty)) return None
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(FCountStar)
      case c: Count if !c.isDistinct =>
        singleName(c.column).flatMap(field).map(f => FCount(f.name))
      case m: Min =>
        singleName(m.column).flatMap(field).filter(f => atomic(f.dataType))
          .map(f => FMin(f.name, f.dataType))
      case m: Max =>
        singleName(m.column).flatMap(field).filter(f => atomic(f.dataType))
          .map(f => FMax(f.name, f.dataType))
      case s: Sum if !s.isDistinct =>
        // Overflow semantics are handled by piece-splitting in the reader
        // (integral and decimal lanes alike), so no evalMode knowledge is
        // needed here — the final merge applies the query's own mode.
        singleName(s.column).flatMap(field).flatMap { f =>
          f.dataType match {
            case d: DecimalType => Some(FSumDec(f.name, d))
            case it @ (ByteType | ShortType | IntegerType | LongType) =>
              Some(FSum(f.name, it, integral = true))
            case FloatType | DoubleType => Some(FSum(f.name, f.dataType, integral = false))
            case _ => None
          }
        }
      case _ => None
    }
    if (funcs.isEmpty || funcs.exists(_.isEmpty)) return None
    Some(Spec(groups.map(_.get), funcs.map(_.get)))
  }
}

/** Wraps a row-based reader factory with per-partition partial
  * aggregation. Columnar reads are disabled — the aggregating wrapper is
  * a row fold (and the rows it folds are the pruned few-column ones).
  */
final class GraftAggReaderFactory(
    inner: PartitionReaderFactory,
    parseSchema: StructType,
    spec: GraftAgg.Spec,
    maxGroups: Int,
    conf: Broadcast[SerializableConfiguration] = null,
    metadataOk: Boolean = false,
    partSpec: Array[(Int, Int, DataType)] = Array.empty) extends PartitionReaderFactory {

  // partition-served columns of the parse schema: name → (partValues
  // index, target type) — the per-file constants grouped metadata
  // answers key on
  private val partByName: Map[String, (Int, DataType)] =
    partSpec.map { case (ri, pi, dt) => (parseSchema(ri).name, (pi, dt)) }.toMap

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // whole-file partition + strict mode + sidecar coverage: answer the
    // battery from metadata, zero data bytes read. A deletion-vector-
    // carrying partition must PARSE instead — its sidecar counts/extrema
    // describe the pre-mask file (min/max stay sound for pruning, but a
    // metadata ANSWER needs exact post-mask values).
    partition match {
      case p: GraftInputPartition
          if metadataOk && conf != null && p.dv == null &&
            p.start == 0 && p.end == p.fileLen &&
            GraftAggMeta.eligible(spec, partByName.keySet) =>
        // a conversion failure (unexpected directory rendering) falls back
        // to the parsing reader rather than failing the scan
        val lookup: String => Option[Any] = n => partByName.get(n).flatMap {
          case (pi, dt) => scala.util.Try {
            val raw = if (pi < p.partValues.length) p.partValues(pi) else null
            if (raw == null) null else Conversions.fromString(dt, raw)
          }.toOption
        }
        val path = new org.apache.hadoop.fs.Path(p.path)
        FileStats.loadFor(path.getFileSystem(conf.value.value), path, p.fileLen)
          .flatMap(st => GraftAggMeta.answer(spec, st, lookup)) match {
          case Some(row) => return new GraftAggMeta.Reader(row)
          case None => ()
        }
      case _ => ()
    }
    new GraftAggPartitionReader(inner.createReader(partition), parseSchema, spec, maxGroups)
  }
}

final class GraftAggPartitionReader(
    inner: PartitionReader[InternalRow],
    parseSchema: StructType,
    spec: GraftAgg.Spec,
    maxGroups: Int) extends ForwardingReader(inner) {
  import GraftAgg._

  private val groupIdx: Array[(Int, DataType)] =
    spec.groupCols.map { case (n, dt) => (parseSchema.fieldIndex(n), dt) }.toArray
  private val funcs = spec.funcs.toArray
  private val funcIdx: Array[Int] =
    funcs.map(f => if (f.col == null) -1 else parseSchema.fieldIndex(f.col))
  private val funcDt: Array[DataType] = funcs.map {
    case FMin(_, dt) => dt
    case FMax(_, dt) => dt
    case f if f.col != null => parseSchema(parseSchema.fieldIndex(f.col)).dataType
    case _ => NullType
  }

  /** Per-group state: counts for COUNT(*)/COUNT(col) (and non-null counts
    * for SUM nullability); boxed extrema for MIN/MAX (null until the first
    * non-null value); primitive accumulators for SUM (long lane for
    * integral inputs — wrapping, like Catalyst's non-ANSI Sum — double
    * lane otherwise).
    */
  private final class State {
    val counts = new Array[Long](funcs.length)
    val vals = new Array[Any](funcs.length)
    val lsums = new Array[Long](funcs.length)
    val dsums = new Array[Double](funcs.length)
    val bsums = new Array[java.math.BigDecimal](funcs.length)
    def reset(): Unit = {
      java.util.Arrays.fill(counts, 0L)
      java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(lsums, 0L)
      java.util.Arrays.fill(dsums, 0.0)
      java.util.Arrays.fill(bsums.asInstanceOf[Array[AnyRef]], null)
    }
  }

  private val state = new java.util.LinkedHashMap[Seq[Any], State]()
  // ungrouped: exactly one state row per partition, emitted even when the
  // split holds zero records (count=0, min/max=null) — the final merge
  // then sums to 0 instead of aggregating an empty input to null
  if (groupIdx.isEmpty) state.put(Nil, new State)

  private var current: InternalRow = null
  private var mapIter: java.util.Iterator[java.util.Map.Entry[Seq[Any], State]] = null

  // parser plates may reuse backing buffers across rows: copy anything
  // reference-typed that outlives the row
  private def copyVal(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case d: org.apache.spark.sql.types.Decimal => d.clone()
    case other => other
  }

  // boxed atomic values (Long/Double/UTF8String/Decimal/...) are all
  // Comparable, with IEEE NaN ordered last — matching Spark's aggregate
  // ordering for the types translate() admits
  private def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

  // SUM reads its input with the primitive accessor for the column's
  // declared type — no boxing on the per-row path
  private def longAt(r: InternalRow, idx: Int, dt: DataType): Long = dt match {
    case LongType => r.getLong(idx)
    case IntegerType => r.getInt(idx).toLong
    case ShortType => r.getShort(idx).toLong
    case _ => r.getByte(idx).toLong
  }
  private def doubleAt(r: InternalRow, idx: Int, dt: DataType): Double = dt match {
    case DoubleType => r.getDouble(idx)
    case _ => r.getFloat(idx).toDouble
  }
  private def decAt(r: InternalRow, idx: Int, dt: DecimalType): java.math.BigDecimal =
    r.getDecimal(idx, dt.precision, dt.scale).toJavaBigDecimal

  // |sum| must stay below 10^(p-s) to be representable as Decimal(p, s);
  // one bound per decimal-sum slot, precomputed
  private val decLimit: Array[java.math.BigDecimal] = funcs.map {
    case f: FSumDec =>
      java.math.BigDecimal.TEN.pow(f.outDt.precision - f.outDt.scale)
    case _ => null
  }

  /** True when folding `r` into `st` would overflow an integral-sum
    * accumulator — the caller then emits `st` as a partial piece and
    * retries on a zeroed state (a lone value never overflows zero).
    */
  private def wouldOverflow(st: State, r: InternalRow): Boolean = {
    var i = 0
    while (i < funcs.length) {
      funcs(i) match {
        case f: FSum if f.integral =>
          val idx = funcIdx(i)
          if (!r.isNullAt(idx)) {
            val a = st.lsums(i)
            val b = longAt(r, idx, f.inDt)
            val s = a + b
            if (((a ^ s) & (b ^ s)) < 0) return true
          }
        case f: FSumDec =>
          val idx = funcIdx(i)
          if (!r.isNullAt(idx) && st.bsums(i) != null) {
            val s = st.bsums(i).add(decAt(r, idx, f.inDt))
            if (s.abs.compareTo(decLimit(i)) >= 0) return true
          }
        case _ => ()
      }
      i += 1
    }
    false
  }

  private def update(st: State, r: InternalRow): Unit = {
    var i = 0
    while (i < funcs.length) {
      funcs(i) match {
        case FCountStar => st.counts(i) += 1L
        case _: FCount => if (!r.isNullAt(funcIdx(i))) st.counts(i) += 1L
        case f: FSum =>
          val idx = funcIdx(i)
          if (!r.isNullAt(idx)) {
            st.counts(i) += 1L
            if (f.integral) st.lsums(i) += longAt(r, idx, f.inDt)
            else st.dsums(i) += doubleAt(r, idx, f.inDt)
          }
        case f: FSumDec =>
          val idx = funcIdx(i)
          if (!r.isNullAt(idx)) {
            st.counts(i) += 1L
            val v = decAt(r, idx, f.inDt)
            st.bsums(i) = if (st.bsums(i) == null) v else st.bsums(i).add(v)
          }
        case _: FMin =>
          if (!r.isNullAt(funcIdx(i))) {
            val v = r.get(funcIdx(i), funcDt(i))
            if (st.vals(i) == null || cmp(v, st.vals(i)) < 0) st.vals(i) = copyVal(v)
          }
        case _: FMax =>
          if (!r.isNullAt(funcIdx(i))) {
            val v = r.get(funcIdx(i), funcDt(i))
            if (st.vals(i) == null || cmp(v, st.vals(i)) > 0) st.vals(i) = copyVal(v)
          }
      }
      i += 1
    }
  }

  private def outputRow(key: Seq[Any], st: State): InternalRow = {
    val out = new Array[Any](groupIdx.length + funcs.length)
    var i = 0
    while (i < groupIdx.length) { out(i) = key(i); i += 1 }
    var j = 0
    while (j < funcs.length) {
      out(groupIdx.length + j) = funcs(j) match {
        case FCountStar | _: FCount => st.counts(j)
        case f: FSum =>
          if (st.counts(j) == 0L) null // all-null input: SUM is null
          else if (f.integral) java.lang.Long.valueOf(st.lsums(j))
          else java.lang.Double.valueOf(st.dsums(j))
        case f: FSumDec =>
          if (st.counts(j) == 0L) null
          else org.apache.spark.sql.types.Decimal( // fits: piece-splitting bound
            st.bsums(j), f.outDt.precision, f.outDt.scale)
        case _ => st.vals(j)
      }
      j += 1
    }
    new GenericInternalRow(out)
  }

  /** Overflow path: the row becomes its own partial group (count=1/0,
    * min=max=value) — sound because the final aggregate merges partials
    * associatively; no state grows.
    */
  private def singletonRow(key: Seq[Any], r: InternalRow): InternalRow = {
    val out = new Array[Any](groupIdx.length + funcs.length)
    var i = 0
    while (i < groupIdx.length) { out(i) = key(i); i += 1 }
    var j = 0
    while (j < funcs.length) {
      out(groupIdx.length + j) = funcs(j) match {
        case FCountStar => 1L
        case _: FCount => if (r.isNullAt(funcIdx(j))) 0L else 1L
        case f: FSum =>
          if (r.isNullAt(funcIdx(j))) null
          else if (f.integral) java.lang.Long.valueOf(longAt(r, funcIdx(j), f.inDt))
          else java.lang.Double.valueOf(doubleAt(r, funcIdx(j), f.inDt))
        case f: FSumDec =>
          if (r.isNullAt(funcIdx(j))) null
          else org.apache.spark.sql.types.Decimal( // single value always fits
            decAt(r, funcIdx(j), f.inDt), f.outDt.precision, f.outDt.scale)
        case _ =>
          if (r.isNullAt(funcIdx(j))) null
          else copyVal(r.get(funcIdx(j), funcDt(j)))
      }
      j += 1
    }
    new GenericInternalRow(out)
  }

  override def next(): Boolean = {
    if (mapIter == null) {
      while (inner.next()) {
        val r = inner.get()
        var key: Seq[Any] = Nil
        if (groupIdx.length > 0) {
          val ks = new Array[Any](groupIdx.length)
          var i = 0
          while (i < groupIdx.length) {
            val (idx, dt) = groupIdx(i)
            ks(i) = if (r.isNullAt(idx)) null else copyVal(r.get(idx, dt))
            i += 1
          }
          key = scala.collection.immutable.ArraySeq.unsafeWrapArray(ks)
        }
        var st = state.get(key)
        if (st == null) {
          if (state.size >= maxGroups) { current = singletonRow(key, r); return true }
          st = new State
          state.put(key, st)
        }
        if (wouldOverflow(st, r)) {
          // flush the group's running state as an extra partial piece and
          // fold the row into a fresh accumulator — the final merge adds
          // the pieces under the query's own evalMode (see FSum scaladoc)
          current = outputRow(key, st)
          st.reset()
          update(st, r)
          return true
        }
        update(st, r)
      }
      mapIter = state.entrySet().iterator()
    }
    if (mapIter.hasNext) {
      val e = mapIter.next()
      current = outputRow(e.getKey, e.getValue)
      true
    } else false
  }

  override def get(): InternalRow = current
}

/** Metadata answers for pushed aggregates: a MIN / MAX / COUNT(col) /
  * COUNT(*) / SUM battery over a whole sink-written file is fully
  * determined by its stats sidecar — one partial row, zero data bytes
  * (the sidecar records each column's exact write-order sum). GROUPED
  * batteries answer too WHEN every group column is a hive partition
  * column: the key is then a per-file constant from the directory name,
  * so "latest event per day" resolves from manifests alone. Group
  * columns that live in the data need per-group stats and fall back to
  * the parsing reader, as do integral sums that left the Long range.
  * Strict-mode only: drop/permissive counts depend on validating every
  * record.
  */
private[spark] object GraftAggMeta {
  import GraftAgg._

  /** True when the spec COULD be metadata-answered (shape check only;
    * answer() still refuses per-column when a sum/bound is unusable):
    * every group column must be partition-served.
    */
  def eligible(spec: Spec, partCols: Set[String]): Boolean =
    spec.groupCols.forall(g => partCols.contains(g._1))

  private def conv(kind: Char, v: Any, dt: DataType): Either[Unit, Any] =
    if (v == null) Right(null)
    else (kind, dt) match {
      case ('i', LongType)    => Right(v)
      case ('i', IntegerType) => Right(v.asInstanceOf[Long].toInt)
      case ('i', ShortType)   => Right(v.asInstanceOf[Long].toShort)
      case ('i', ByteType)    => Right(v.asInstanceOf[Long].toByte)
      case ('f', DoubleType)  => Right(v)
      case ('f', FloatType)   => Right(v.asInstanceOf[Double].toFloat)
      case ('s', StringType)  => Right(v)
      case ('b', BooleanType) => Right(v)
      // temporal lanes carry the INTERNAL long form already
      case ('t', TimestampType) => Right(v)
      case ('t', TimestampNTZType) => Right(v)
      case ('y', DateType) => Right(v.asInstanceOf[Long].toInt)
      case ('d', dt: DecimalType) =>
        val dec = org.apache.spark.sql.types.Decimal(v.asInstanceOf[java.math.BigDecimal])
        if (dec.changePrecision(dt.precision, dt.scale)) Right(dec) else Left(())
      case _ => Left(()) // sidecar kind does not match the column type
    }

  /** The partial row [[GraftAggPartitionReader]] would produce for this
    * file, from stats alone; None when anything is uncovered (caller
    * parses instead). `partVal(c)` is the file's CONSTANT internal value
    * for partition-served column `c` (Some(null) = the null partition),
    * None when `c` is a data column — group keys come from it, and
    * aggregate functions over partition columns answer from it directly
    * (min = max = the constant; count = rows unless the value is null).
    */
  def answer(spec: Spec, st: graft.spark.FileStats.Stats,
      partVal: String => Option[Any] = _ => None): Option[InternalRow] = {
    // a zero-row file must not INVENT its group: the unpushed plan would
    // emit nothing for it (ungrouped zero-count rows stay — they merge)
    if (spec.groupCols.nonEmpty && st.rows == 0L) return None
    val groups = spec.groupCols.map { case (n, _) =>
      partVal(n) match {
        case Some(v) => v
        case None => return None // data-column group: per-group stats needed
      }
    }
    val vals = new Array[Any](spec.funcs.length)
    var i = 0
    val it = spec.funcs.iterator
    while (it.hasNext) {
      it.next() match {
        case FCountStar => vals(i) = st.rows
        case FCount(c) => partVal(c) match {
          case Some(v) => vals(i) = if (v == null) 0L else st.rows
          case None =>
            val cs = st.cols.getOrElse(c, return None)
            vals(i) = st.rows - cs.nulls
        }
        case FMin(c, dt) => partVal(c) match {
          // a zero-row file has no values for ANY column: the partition-
          // directory constant must not become a spurious non-null MIN
          // (latent — the sinks create files lazily per row — but nothing
          // at this layer enforces that)
          case Some(v) => vals(i) = if (st.rows == 0L) null else v
          case None =>
            val cs = st.cols.getOrElse(c, return None)
            if (!cs.minExact) return None // truncated bound: prune-only, not an answer
            conv(cs.kind, cs.min, dt) match {
              case Right(v) => vals(i) = v
              case Left(_) => return None
            }
        }
        case FMax(c, dt) => partVal(c) match {
          case Some(v) => vals(i) = if (st.rows == 0L) null else v
          case None =>
            val cs = st.cols.getOrElse(c, return None)
            if (!cs.maxExact) return None
            conv(cs.kind, cs.max, dt) match {
              case Right(v) => vals(i) = v
              case Left(_) => return None
            }
        }
        case f: FSum =>
          if (partVal(f.col).isDefined) return None // constant × rows: parse instead
          val cs = st.cols.getOrElse(f.col, return None)
          if (st.rows - cs.nulls == 0L) vals(i) = null // all-null: SUM is null
          else if (cs.sum == null) return None // untracked / Long overflow: parse
          else (f.integral, cs.kind) match {
            case (true, 'i') => vals(i) = cs.sum // already a Long
            case (false, 'f') => vals(i) = cs.sum // already a Double
            case _ => return None // sidecar kind does not match the lane
          }
        case f: FSumDec =>
          if (partVal(f.col).isDefined) return None
          val cs = st.cols.getOrElse(f.col, return None)
          if (st.rows - cs.nulls == 0L) vals(i) = null
          else if (cs.sum == null || cs.kind != 'd') return None
          else {
            val dec = org.apache.spark.sql.types.Decimal(
              cs.sum.asInstanceOf[java.math.BigDecimal])
            if (dec.changePrecision(f.outDt.precision, f.outDt.scale)) vals(i) = dec
            else return None // out of the output type's range: parse piece-splits
          }
      }
      i += 1
    }
    Some(new GenericInternalRow((groups ++ vals).toArray))
  }

  /** Single-row reader for a metadata-answered partition. */
  final class Reader(row: InternalRow) extends PartitionReader[InternalRow] {
    private var served = false
    override def next(): Boolean = if (served) false else { served = true; true }
    override def get(): InternalRow = row
    override def close(): Unit = ()
  }
}
