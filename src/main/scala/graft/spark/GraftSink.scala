package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** Shared sink helpers: hive-style partition path handling for the
  * `partitionBy(...)` write path (the layout [[GraftSources.resolvePartitioned]]
  * already lists, prunes, and reads back).
  */
object GraftSink {

  /** Identity `partitionBy` columns from the table's transforms; anything
    * fancier (bucket/years/months/...) is refused with a clear message.
    */
  def identityPartCols(
      transforms: Array[org.apache.spark.sql.connector.expressions.Transform]): Seq[String] =
    transforms.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        t.references()(0).fieldNames()(0)
      case t => throw new IllegalArgumentException(
        s"graft sinks support only identity partitionBy columns, got: $t")
    }

  /** Hive-style %xx escaping for partition VALUES in directory names —
    * the inverse of the reader's unescapePathValue. Conservative set:
    * everything path- or shell-hostile escapes; plain alphanumerics and
    * common punctuation pass through.
    */
  def escapePathValue(s: String): String = {
    def bad(c: Char): Boolean =
      c < 0x20 || c == 0x7F || "\"%',*/:=?\\{}[]^#".indexOf(c) >= 0 // ',' too:
      // comma-joined file lists (restrictFiles/commitremoves) must never
      // split inside a partition value
    if (!s.exists(bad)) return s
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach { c =>
      if (bad(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
    }
    sb.toString
  }

  /** Directory-name rendering of one partition value. */
  def partitionDirValue(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
    else {
      val raw = dt match {
        case StringType => row.getUTF8String(i).toString
        case LongType => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case ShortType => row.getShort(i).toString
        case ByteType => row.getByte(i).toString
        case BooleanType => row.getBoolean(i).toString
        case DoubleType => row.getDouble(i).toString
        case FloatType => row.getFloat(i).toString
        case d: DecimalType =>
          row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
        case TimestampType | TimestampNTZType | DateType =>
          // ISO forms, not the internal micros/days integer (a
          // date=2026-01-02/ directory, not date=20454/)
          temporalString(row.get(i, dt), dt)
        case other => row.get(i, other).toString
      }
      val esc = escapePathValue(raw)
      if (esc.isEmpty) "__HIVE_DEFAULT_PARTITION__" else esc
    }

  /** Per-task cap on simultaneously open partition files — the standard
    * dynamic-partitioning guard: above it the caller should cluster by
    * the partition columns (`df.repartition(col(...))`) first.
    */
  val MaxOpenPartitions = 1000

  /** Batch part names embed the write's query id, so `mode("append")`
    * jobs never collide with a prior job's part-<n> files (a task RETRY
    * within one job keeps the same name — the idempotent-rename
    * property). Streaming keeps pure epoch names: those must be stable
    * across query restarts for exactly-once.
    */
  def batchNamePrefix(queryId: String): String =
    if (queryId == null || queryId.isEmpty) "part"
    else "part-" + queryId.replaceAll("[^0-9a-zA-Z]", "").take(12)

  /** Text part-file extension for a `compression` codec. */
  def textExt(base: String, codec: String, format: String): String = codec match {
    case "gzip" => base + ".gz"
    case "zstd" => base + ".zst"
    case "none" => base
    case other => throw new IllegalArgumentException(
      s"$format compression '$other' (supported: none, gzip, zstd)")
  }

  /** (published file, rendered stats) for every file the task commit
    * messages name; null messages (tasks that never committed) name none.
    */
  def committedFiles(messages: Array[WriterCommitMessage]): Seq[(String, String)] =
    messages.toSeq.flatMap {
      case GraftCommit(f, s) => Seq(f -> s)
      case GraftPartitionedCommit(es) => es
      case _ => Nil
    }

  /** Hidden marker a failed batch job's abort leaves in the table root,
    * or null when the part names are not query-scoped (no query id).
    */
  def abortMarker(root: String, namePrefix: String): Path =
    if (namePrefix == batchNamePrefix(null)) null
    else new Path(root, s".$namePrefix.aborted")

  /** Delete a published part file and, first, its sidecar. */
  def deletePart(fs: org.apache.hadoop.fs.FileSystem, file: Path): Unit = {
    fs.delete(FileStats.sidecarFor(file), false)
    fs.delete(file, false)
  }

  /** The one `newWriteBuilder` of the graft tables: the write options all
    * formats share, plus the table's row encoding, built by `encoding`
    * from `opt` (a write option, falling back to the table's properties).
    * A `check` or `blockbytes` table property binds every write (the
    * Delta table-constraint semantics); a per-write option overrides.
    */
  def newWriteBuilder(info: LogicalWriteInfo, properties: java.util.Map[String, String],
      partTransforms: Array[org.apache.spark.sql.connector.expressions.Transform])(
      encoding: (String => Option[String]) => RowEncoding): WriteBuilder = {
    def opt(k: String): Option[String] =
      Option(info.options.get(k)).orElse(Option(properties.get(k)))
    val merged = GraftSources.mergeTableProps(properties, info.options)
    val enc = encoding(opt)
    enc.checkSchema(info.schema())
    new GraftWriteBuilder(
      GraftWriteSpec(
        opt("path").orElse(Option(properties.get("location"))).orNull, // location: catalog DDL tables
        info.schema(),
        GraftSources.broadcastHadoopConf(),
        enc,
        writePartCols(partTransforms, info.options),
        checkFromOptions(merged, info.schema()),
        blockBytesFrom(merged)),
      info.queryId(),
      info.options.getBoolean("mergeschema", false),
      CommitRiders(
        GraftSources.commitRemoves(info.options),
        GraftSources.commitRemovesBase(info.options),
        GraftSources.commitDvs(info.options),
        GraftSources.commitDvBase(info.options),
        GraftSources.commitChangeFiles(info.options),
        GraftSources.commitOpTag(info.options)))
  }

  /** A bound write-time CHECK constraint (expression + original SQL for
    * error messages); ships to the DataWriters.
    */
  final case class CheckSpec(
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      sql: String) extends Serializable

  /** CheckSpec from the write options (null when no `check` option). */
  def checkFromOptions(options: java.util.Map[String, String],
      schema: StructType): CheckSpec =
    Option(options.get("check")).map(_.trim).filter(_.nonEmpty)
      .map(sql => CheckSpec(parseCheck(sql, schema), sql)).orNull

  /** Parse + analyze a write-time CHECK constraint (`option("check",
    * "l_quantity BETWEEN 0 AND 60")`, the Delta table-constraint shape)
    * into a bound row predicate the DataWriters evaluate per row. SQL
    * CHECK semantics: a row fails only when the predicate is FALSE (null
    * passes). Full analyzer resolution, so any deterministic expression
    * over the write schema works; nondeterministic expressions and
    * non-boolean results are refused at build time (before any task
    * runs).
    */
  def parseCheck(sql: String, schema: StructType)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val spark = org.apache.spark.sql.SparkSession.active
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val analyzed = spark.sessionState.analyzer
      .executeAndCheck(Filter(parsed, LocalRelation(attrs)),
        new org.apache.spark.sql.catalyst.QueryPlanningTracker)
    val cond0 = analyzed.asInstanceOf[Filter].condition
    require(cond0.dataType == BooleanType,
      s"check constraint must be BOOLEAN, got ${cond0.dataType.simpleString}: $sql")
    require(cond0.deterministic,
      s"check constraint must be deterministic: $sql")
    // interpreted eval path: RuntimeReplaceable sugar (BETWEEN, ilike, …)
    // must lower to its replacement, and the replacement's `With`
    // common-expression nodes (Unevaluable) inline their defs — a row
    // predicate can afford the duplicate evaluation the sharing avoided
    val cond = cond0.transformUp {
      case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        rr.replacement
    }.transformUp {
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            defs(r.id)
        }
    }
    org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(cond, analyzed.children.head.output)
  }

  /** Evaluate a bound CHECK against one row; throw with the rendered row
    * on violation (task fails → job fails → the batch abort deletes what
    * the job's other tasks published).
    */
  def enforceCheck(check: org.apache.spark.sql.catalyst.expressions.Expression,
      checkSql: String, row: InternalRow, schema: StructType): Unit = {
    val v = check.eval(row)
    if (v == false) {
      val rendered = row.toSeq(schema).mkString("[", ", ", "]")
      throw new IllegalArgumentException(
        s"CHECK constraint violated: ($checkSql) on row " +
          (if (rendered.length > 300) rendered.take(300) + "…]" else rendered))
    }
  }

  /** Text form for temporal values in JSON/CSV output — the ISO-8601
    * forms the graft readers (Instant.parse / LocalDate.parse) AND
    * spark.read.json/csv both parse back to the identical internal
    * value. Before round 11 these fell through to `v.toString`, which
    * rendered the INTERNAL micros/days integer — unreadable as a
    * timestamp by anything (q193 found it: every enriched row nulled).
    */
  def temporalString(v: Any, dt: DataType): String = dt match {
    case TimestampType =>
      val us = v.asInstanceOf[Long]
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L).toString
    case TimestampNTZType =>
      val us = v.asInstanceOf[Long]
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC).toString
    case DateType =>
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
    case _ => String.valueOf(v)
  }

  /** Partition columns for a write: the table's identity transforms
    * (batch `partitionBy`), the `__partition_columns` JSON option (how
    * Spark encodes partitioning when it plumbs it as an option), or an
    * explicit `option("partitionby", "a,b")` — the documented route for
    * STREAMING writes, where Spark's V2 path drops
    * `DataStreamWriter.partitionBy` before it reaches the table.
    */
  def writePartCols(
      transforms: Array[org.apache.spark.sql.connector.expressions.Transform],
      options: java.util.Map[String, String]): Seq[String] = {
    val fromTransforms = identityPartCols(transforms)
    if (fromTransforms.nonEmpty) return fromTransforms
    Option(options.get(
      org.apache.spark.sql.execution.datasources.DataSourceUtils.PARTITIONING_COLUMNS_KEY))
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns(_).toSeq)
      .orElse(Option(options.get("partitionby"))
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
      .getOrElse(Nil)
  }

  /** Default intra-file block size for the stats sidecars (the parquet
    * row-group analog; docs/TABLE_FORMAT.md "Stats sidecars"). Override
    * per write with `option("blockbytes", n)`; 0 disables.
    */
  val DefaultBlockBytes: Long = 8L << 20

  def blockBytesFrom(options: java.util.Map[String, String]): Long =
    Option(options.get("blockbytes")).map(_.trim).filter(_.nonEmpty)
      .map(_.toLong).getOrElse(DefaultBlockBytes)

  /** Resolve the table schema a batch commit should record, enforcing the
    * Delta-shaped evolution contract against the table's current recorded
    * schema (docs/TABLE_FORMAT.md "Schema tracking"):
    *
    *  - overwrite / no log / no recorded schema → the incoming schema
    *    (tracking starts with this commit);
    *  - columns the incoming write shares with the table must keep their
    *    exact types (ignoring nullability) — a type change is refused
    *    loudly, never silently mixed into the directory;
    *  - incoming-only columns require `option("mergeschema","true")` and
    *    merge in as nullable columns AFTER the existing ones (rows already
    *    on disk read them back as null — the JSON/CSV readers' natural
    *    missing-key semantics);
    *  - table columns the write omits are fine (the new rows read back
    *    null there), and the recorded column ORDER stays the table's.
    *
    * Runs on the driver before any task launches, so a refused append
    * writes nothing. Matching is by exact (case-sensitive) name — the
    * JSON key dialect. Nested struct additions are refused as type
    * changes (evolve top-level columns instead).
    */
  /** `dt` with every nesting level forced nullable — the comparison (and
    * read-side) normalization: JSON/CSV reads are inherently nullable
    * (missing keys, corrupt rows), exactly like spark.read.json.
    */
  def asNullableType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullableType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullableType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullableType(m.keyType), asNullableType(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** Type equality ignoring nullability at every nesting level. */
  def sameTypeIgnoreNullability(a: DataType, b: DataType): Boolean =
    asNullableType(a) == asNullableType(b)

  /** Numeric WIDENING lattice for the text formats (the Delta
    * type-widening shape): byte < short < int < long and float < double.
    * JSON/CSV values are text — "5" re-parses identically under the
    * wider type — so an append in either direction is safe once the
    * RECORDED type is the wider one. Returns the widened common type, or
    * None when the pair is not a widening (a real type change). Binary
    * formats (avro) must NOT use this: their physical encodings differ.
    */
  def widenedType(a: DataType, b: DataType): Option[DataType] = {
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => -1
    }
    val (ra, rb) = (rank(a), rank(b))
    if (ra > 0 && rb > 0) Some(if (ra >= rb) a else b)
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** [[toPhysicalSchema]] against the table's CURRENT recorded schema —
    * the streaming-writer variant (epoch commits skip schema resolution).
    * Strict: failing to read the record must fail the stream start, not
    * silently write logical keys to a mapped table.
    */
  def streamingPhysicalSchema(conf: org.apache.hadoop.conf.Configuration,
      path: String, schema: StructType): StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val log = new GraftCommitLog.LogListing(fs, root)
    if (log.versions.isEmpty) schema
    else GraftCommitLog.schemaAsOfStrict(log, log.versions.max)
      .map(rec => toPhysicalSchema(schema, rec)).getOrElse(schema)
  }

  /** What a batch commit should record (`record`; null = record nothing)
    * plus the recorded schema it RESOLVED against (`base`; null = none) —
    * the commit-time conflict policy needs both (docs/TABLE_FORMAT.md).
    */
  final case class ResolvedSchema(record: StructType, base: StructType)

  /** The WRITE schema under column mapping: each incoming field renamed
    * to its recorded PHYSICAL name (data files always store physical
    * keys, so files written before and after a rename stay key-compatible
    * — zero data movement). Positional: only names change, so rows keep
    * lining up. Identity when the table is untracked (`record` null) or
    * unmapped.
    */
  def toPhysicalSchema(incoming: StructType, record: StructType): StructType = {
    if (record == null) return incoming
    val phys = GraftSources.physicalMap(record)
    if (phys.isEmpty) incoming
    else StructType(incoming.fields.map(f =>
      phys.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
  }

  def resolveCommitSchema(conf: org.apache.hadoop.conf.Configuration,
      path: String, incoming: StructType, truncate: Boolean,
      mergeSchema: Boolean, widen: Boolean = true): ResolvedSchema = {
    if (truncate || path == null) return ResolvedSchema(incoming, null)
    val root = new Path(path)
    // fs errors and — once a commit log exists — failures reading the
    // recorded schema PROPAGATE: degrading to None here would silently
    // skip evolution enforcement AND record no schema line on an IO blip
    // (a widening append would then land while later schemaless reads
    // parse the wider values under the stale narrower type). The lenient
    // None is reserved for the genuinely-no-log case.
    val existing: Option[StructType] = {
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) None
      else {
        val log = new GraftCommitLog.LogListing(fs, root)
        if (log.versions.isEmpty) None
        else GraftCommitLog.schemaAsOfStrict(log, log.versions.max)
      }
    }
    existing match {
      case None =>
        // tracking starts only where the record can be AUTHORITATIVE: an
        // overwrite (handled above) or a fresh/empty directory. Appending
        // to an EXISTING untracked directory must not start it — older
        // files may carry columns this append omits, and a recorded
        // subset would hide them from every schemaless read (sampling
        // inference merges keys across all files; a record would not).
        val freshDir = try {
          val fs = root.getFileSystem(conf)
          !fs.exists(root) || !fs.listStatus(root).exists { st =>
            val n = st.getPath.getName
            !n.startsWith(".") && !n.startsWith("_")
          }
        } catch { case _: Exception => false }
        ResolvedSchema(if (freshDir) incoming else null, null)
      case Some(cur) =>
        val incByName = incoming.fields.map(f => f.name -> f).toMap
        // common columns: identical types pass; for the text formats a
        // numeric widening pair passes too and the RECORDED type becomes
        // the wider one (either append direction — values re-parse under
        // the wider type); anything else is a refused type change
        val mismatched = Seq.newBuilder[String]
        val curWidened = cur.fields.map { c =>
          incByName.get(c.name) match {
            case Some(f) if !sameTypeIgnoreNullability(c.dataType, f.dataType) =>
              (if (widen) widenedType(c.dataType, f.dataType) else None) match {
                case Some(w) => c.copy(dataType = w)
                case None =>
                  mismatched +=
                    s"'${c.name}' ${c.dataType.simpleString} -> ${f.dataType.simpleString}"
                  c
              }
            case _ => c
          }
        }
        val bad = mismatched.result()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"schema mismatch appending to $path: column type change(s) " +
              bad.mkString(", ") +
              " — the graft table protocol refuses non-widening type changes " +
              "(rewrite the table to a fresh root to retype columns)")
        val added = incoming.fields.filterNot(f =>
          cur.fields.exists(_.name == f.name))
        // COLUMN-MAPPING injectivity rail: a new logical name must not
        // collide with an existing field's PHYSICAL key (e.g. rename a->b
        // then add a fresh 'a': old files' 'a' keys belong to b) — two
        // logical columns reading one physical key is silent corruption
        // case-INSENSITIVE like the DDL rails: the analyzer resolves
        // names case-insensitively, so a case-variant squatter is the
        // same collision
        val physTaken = cur.fields.iterator
          .map(f => GraftSources.physicalName(f))
          .filter(p => !cur.fields.exists(_.name.equalsIgnoreCase(p))).toSet
        added.find(f => physTaken.exists(_.equalsIgnoreCase(f.name))).foreach { f =>
          throw new IllegalArgumentException(
            s"schema mismatch appending to $path: new column '${f.name}' " +
              "collides with the PHYSICAL name of a renamed column — pick " +
              "a different name (physical keys of renamed columns stay " +
              "reserved while their data files live)")
        }
        val record =
          if (added.isEmpty) StructType(curWidened)
          else if (!mergeSchema)
            throw new IllegalArgumentException(
              s"schema mismatch appending to $path: new column(s) " +
                added.map(_.name).mkString("'", "', '", "'") +
                " not in the table schema — pass option(\"mergeschema\",\"true\") " +
                "to add them (existing rows read them back as null)")
          else StructType(curWidened ++ added.map(_.copy(nullable = true)))
        ResolvedSchema(record, cur)
    }
  }
}

/** The per-format half of the graft write path: how rows become one part
  * file's bytes and stats. Built on the driver from the write options and
  * shipped to the tasks inside the writer factory; everything else about
  * a write — naming, staging, publishing, partition routing, CHECK
  * enforcement, the commit log — is shared ([[GraftDataWriter]]).
  */
trait RowEncoding extends Serializable {
  /** File extension, compression suffix included. */
  def ext: String

  /** Whether an append may widen a recorded numeric type: text values
    * re-parse identically under the wider type, binary encodings do not.
    */
  def widen: Boolean = true

  /** Refuse, before any task runs, a schema this format cannot write. */
  def checkSchema(schema: StructType): Unit = ()

  /** An encoder writing rows laid out as `dataSchema` into `out`, a
    * freshly created stage file.
    */
  def open(out: org.apache.hadoop.fs.FSDataOutputStream, dataSchema: StructType,
      blockBytes: Long): RowEncoder
}

/** One part file being encoded: owns its stream and its rows' stats. */
abstract class RowEncoder(val stats: FileStatsCollector) {
  def write(row: InternalRow): Unit

  /** Flush and close the stream. */
  def close(): Unit

  /** The stats of the published file, `len` bytes long. */
  def snapshot(len: Long): FileStats.Stats = stats.snapshot(len)
}

/** One line per row (JSON lines, CSV) with gzip/zstd over the stream.
  * Intra-file blocks are recorded only uncompressed, where byte offsets
  * are file offsets (the collector's length binding would drop them for
  * compressed members anyway, so don't pay the accounting).
  */
private abstract class TextEncoder(raw: java.io.OutputStream, codec: String,
    dataSchema: StructType, blockBytes: Long, nonFiniteAsNull: Boolean = false,
    emptyStringsAsNull: Boolean = false)
    extends RowEncoder(new FileStatsCollector(dataSchema, nonFiniteAsNull,
      emptyStringsAsNull, if (codec == "none") blockBytes else 0L)) {

  protected val sb = new java.lang.StringBuilder(4096)
  private val out: java.io.OutputStream = {
    val base = new java.io.BufferedOutputStream(raw, 1 << 16)
    codec match {
      case "gzip" => new java.util.zip.GZIPOutputStream(base, 1 << 16)
      case "zstd" => new java.io.BufferedOutputStream(
        new com.github.luben.zstd.ZstdOutputStream(base), 1 << 16)
      case _ => base
    }
  }

  /** Append `row`'s line, terminator included, to `sb`. */
  protected def render(row: InternalRow): Unit

  /** Write `sb` out; returns its byte length. */
  protected def emit(): Int = {
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(bytes)
    bytes.length
  }

  final override def write(row: InternalRow): Unit = {
    sb.setLength(0)
    render(row)
    val n = emit()
    stats.observe(row)
    stats.noteBytes(n)
  }

  override def close(): Unit = out.close()
}

/** What every task of one write needs: the target, the row layout (the
  * PHYSICAL schema under column mapping, so stats sidecars carry the
  * physical keys too) and how rows are encoded, routed and checked.
  */
final case class GraftWriteSpec(
    path: String,
    schema: StructType,
    conf: Broadcast[SerializableConfiguration],
    encoding: RowEncoding,
    partCols: Seq[String],
    check: GraftSink.CheckSpec,
    blockBytes: Long)

/** The batch-commit riders a COW rewrite or merge-on-read update attaches
  * to its log entry: removes, deletion vectors, change files, op tag.
  */
final case class CommitRiders(
    removes: Seq[String],
    removesBase: Long,
    dvs: Seq[(String, String)],
    dvBase: Map[String, String],
    changeFiles: Seq[(String, String)],
    opTag: String)

/** DSv2 write path for the graft formats: each task streams its rows to a
  * hidden, task-attempt-unique stage file and RENAMES it into place on
  * task commit — rename is the atomic primitive, so speculative or retried
  * tasks never double-publish (the loser's stage file is deleted on
  * abort). `mode("overwrite")` maps to SupportsTruncate: the driver clears
  * prior output before launching tasks. `partitionBy(cols)` routes rows to
  * hive-style `col=value/` subdirectories (values %xx-escaped, nulls as
  * __HIVE_DEFAULT_PARTITION__), with partition columns stripped from the
  * written data — exactly the layout the graft scan lists,
  * partition-prunes, and reads back.
  *
  * The reference has no sink (the Plate IS its sink, SURVEY §2.11 row
  * "Sinks"); this is the Spark-native counterpart so a graft pipeline can
  * round-trip its data without leaving the DSv2 surface.
  */
final class GraftWriteBuilder(
    spec: GraftWriteSpec,
    queryId: String,
    mergeSchema: Boolean,
    riders: CommitRiders)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(spec, doTruncate, GraftSink.batchNamePrefix(queryId),
        mergeSchema, riders)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // a streaming epoch commit never touches the commit log, so removes
      // would be accepted-and-ignored — the one outcome a COW rewrite must
      // never have (adds published, retirements lost = doubled rows)
      require(riders.removes.isEmpty,
        "option(\"commitremoves\", ...) is batch-only: streaming epoch commits " +
          "do not write the commit log, so the removes would be silently lost — " +
          "route COW rewrites through foreachBatch + batch mode(\"append\")")
      require(riders.dvs.isEmpty,
        "option(\"commitdvs\", ...) is batch-only: streaming epoch commits " +
          "do not write the commit log, so the masks would be silently lost")
      // complete output mode truncates the builder; epoch files APPEND,
      // so honoring it silently would stack every epoch's full result
      require(!doTruncate,
        "graft streaming sinks append epoch files; Complete output mode " +
          "(per-epoch truncation) is not supported — use update/append, " +
          "or foreachBatch + TrainingData.upsert for full-result refresh")
      new GraftStreamingWrite(spec)
    }
  }
}

/** Streaming sink: files are named by (epoch, partition), so a replayed
  * epoch after failure re-publishes the SAME names — idempotent, which is
  * what makes the file sink exactly-once under micro-batch re-execution.
  * `partitionBy` routes each epoch's rows into the same hive-style
  * layout as batch writes. Epochs stay out of the commit log and the
  * manifests (per-file sidecars cover streaming output); followLog tails
  * batch commits only, raw streams discover epoch files by listing.
  */
final class GraftStreamingWrite(spec: GraftWriteSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  // column mapping: a stream appending to a renamed table must write
  // PHYSICAL keys or readers would see nulls — resolved ONCE at stream
  // start (this class is constructed per query; the factory method runs
  // PER EPOCH, where the log read would be wasted I/O and a mid-stream
  // ALTER RENAME could silently flip later epochs' keys)
  private val physSpec: GraftWriteSpec = {
    val dir = new Path(spec.path)
    dir.getFileSystem(spec.conf.value.value).mkdirs(dir)
    spec.copy(schema =
      GraftSink.streamingPhysicalSchema(spec.conf.value.value, spec.path, spec.schema))
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftWriterFactory(physSpec, "part")

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftBatchWrite(
    spec: GraftWriteSpec,
    truncate: Boolean,
    namePrefix: String,
    mergeSchema: Boolean,
    riders: CommitRiders)
    extends BatchWrite {

  require(riders.removes.isEmpty || !truncate,
    "option(\"commitremoves\", ...) is meaningless with mode(\"overwrite\") — " +
      "the truncate wipes the commit log the removes would amend")
  require(riders.dvs.isEmpty || !truncate,
    "option(\"commitdvs\", ...) is meaningless with mode(\"overwrite\") — " +
      "the truncate wipes the files the vectors would mask")

  private def conf = spec.conf.value.value

  // the table schema this commit records + the recorded schema it
  // resolved against: enforced on the driver BEFORE any task launches
  private var commitSchema: GraftSink.ResolvedSchema =
    GraftSink.ResolvedSchema(spec.schema, null)

  // set once commit starts: from then on a log entry may name this job's
  // files, so a failed commit must leave them (as unlogged orphans for
  // vacuumOrphans) rather than delete files a reader may resolve
  @volatile private var committing = false

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    commitSchema = GraftSink.resolveCommitSchema(conf, spec.path, spec.schema, truncate,
      mergeSchema, spec.encoding.widen)
    val dir = new Path(spec.path)
    val fs = dir.getFileSystem(conf)
    if (truncate && fs.exists(dir)) {
      // recursive: partitioned layouts nest their part files in k=v dirs
      fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
    }
    fs.mkdirs(dir)
    new GraftWriterFactory(
      spec.copy(schema = GraftSink.toPhysicalSchema(spec.schema, commitSchema.record)),
      namePrefix)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    committing = true
    GraftManifest.write(conf, messages)
    GraftCommitLog.append(conf, spec.path, messages, riders.removes,
      commitSchema.record, commitSchema.base, riders.removesBase, riders.dvs,
      riders.dvBase, riders.changeFiles, riders.opTag)
  }

  /** Delete the files (and sidecars) this job's tasks published. Spark
    * drops the commit message of a task that finishes while the job
    * fails, so the query-scoped part names, not the messages, say which
    * files are this job's; the marker, written before the listing, makes
    * a task that publishes after it take its own files back. A driver
    * crash leaves the files for vacuumOrphans.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (!committing) {
      val root = new Path(spec.path)
      val fs = root.getFileSystem(conf)
      def ours(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap { st =>
        val p = st.getPath
        if (st.isDirectory) {
          if (spec.partCols.nonEmpty && !p.getName.startsWith(".")) ours(p) else Nil
        } else if (p.getName.startsWith(namePrefix + "-")) Seq(p)
        else Nil
      }
      val marker = GraftSink.abortMarker(spec.path, namePrefix)
      val listed = if (marker == null) Nil else {
        fs.create(marker, true).close()
        ours(root)
      }
      (GraftSink.committedFiles(messages).map(f => new Path(f._1)) ++ listed)
        .foreach(GraftSink.deletePart(fs, _))
    }
}

/** Batch and streaming tasks share one factory: batch part names are
  * `<namePrefix>-<partition>`, streaming ones `<namePrefix>-<epoch>-<partition>`
  * — epoch names must be stable across query restarts for exactly-once.
  */
final class GraftWriterFactory(spec: GraftWriteSpec, namePrefix: String)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(spec, namePrefix, GraftSink.abortMarker(spec.path, namePrefix),
      partitionId, taskId)
  // streaming epochs have no job-level abort: a replay re-publishes them
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(spec, f"$namePrefix-$epochId%05d", null, partitionId, taskId)
}

/** One task's writes: routes each row to its partition directory's part
  * file, stages it under a hidden task-attempt name, and publishes it on
  * commit. A zero-row unpartitioned task still publishes an empty root
  * part, under the name a retry or a replayed epoch would use, so a
  * replay that now routes no rows here replaces the earlier attempt's file.
  */
final class GraftDataWriter(
    spec: GraftWriteSpec,
    namePrefix: String,
    abortMarker: Path,
    partitionId: Int,
    taskId: Long)
    extends DataWriter[InternalRow] {
  import spec._

  private val fs = new Path(path).getFileSystem(conf.value.value)

  // partitioned writes strip the partition columns from the data rows
  private val partIdx: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val partDts: Array[DataType] = partIdx.map(schema.fields(_).dataType)
  private val dataFieldIdx: Array[Int] =
    schema.fields.indices.filterNot(partIdx.contains).toArray
  private val dataSchema: StructType =
    if (partIdx.isEmpty) schema else StructType(dataFieldIdx.map(schema.fields(_)))
  private val projVals: Array[Any] =
    if (partIdx.isEmpty) null else new Array[Any](dataFieldIdx.length)
  private val projRow: GenericInternalRow =
    if (partIdx.isEmpty) null else new GenericInternalRow(projVals)

  /** One staged output file (a partition directory's, or the root's). */
  private final class StagedPart(dir: Path) {
    val finalFile = new Path(dir, f"$namePrefix-$partitionId%05d.${encoding.ext}")
    val stageFile = new Path(dir, f".$namePrefix-$partitionId%05d-$taskId.${encoding.ext}.stage")
    val enc: RowEncoder = {
      fs.mkdirs(dir)
      encoding.open(fs.create(stageFile, true), dataSchema, blockBytes)
    }

    /** Atomic publish + bound sidecar; returns (file, rendered stats). */
    def publish(): (String, String) = {
      enc.close()
      // a prior file's sidecar must not outlive its data: drop it BEFORE
      // the rename so a crash between the two steps leaves no-stats
      // (pruning disabled) rather than wrong-stats (wrong results)
      GraftSink.deletePart(fs, finalFile)
      GraftLogStore.forConf(conf.value.value).publish(fs, stageFile, finalFile, overwrite = false)
      val rendered = FileStats.render(enc.snapshot(fs.getFileStatus(finalFile).getLen))
      try {
        val sout = fs.create(FileStats.sidecarFor(finalFile), true)
        try sout.write(rendered.getBytes("UTF-8")) finally sout.close()
      } catch { case _: Exception => () } // stats are best-effort
      (finalFile.toString, rendered)
    }

    def drop(): Unit = {
      try enc.close() catch { case _: Exception => () }
      fs.delete(stageFile, false)
    }
  }

  private val parts = new java.util.LinkedHashMap[String, StagedPart]()
  private def partFor(row: InternalRow): StagedPart = {
    if (partIdx.isEmpty) {
      var s = parts.get("")
      if (s == null) { s = new StagedPart(new Path(path)); parts.put("", s) }
      return s
    }
    val rel = {
      val sb = new java.lang.StringBuilder(64)
      var k = 0
      while (k < partIdx.length) {
        if (k > 0) sb.append('/')
        sb.append(partCols(k)).append('=')
          .append(GraftSink.partitionDirValue(row, partIdx(k), partDts(k)))
        k += 1
      }
      sb.toString
    }
    var s = parts.get(rel)
    if (s == null) {
      if (parts.size >= GraftSink.MaxOpenPartitions)
        throw new IllegalStateException(
          s"task $taskId holds ${parts.size} open partition files; repartition " +
          "by the partitionBy columns so each task writes fewer partitions")
      s = new StagedPart(new Path(path, rel))
      parts.put(rel, s)
    }
    s
  }

  override def write(row: InternalRow): Unit = {
    if (check != null) GraftSink.enforceCheck(check.expr, check.sql, row, schema)
    val part = partFor(row)
    if (partIdx.isEmpty) part.enc.write(row)
    else {
      var k = 0
      while (k < dataFieldIdx.length) {
        val i = dataFieldIdx(k)
        projVals(k) = if (row.isNullAt(i)) null else row.get(i, dataSchema.fields(k).dataType)
        k += 1
      }
      part.enc.write(projRow)
    }
  }

  override def commit(): WriterCommitMessage = {
    val published =
      if (partIdx.isEmpty) Seq(partFor(null).publish()) // the root part, rows or not
      else parts.values().asScala.toSeq.map(_.publish())
    // the job failed while this task published, and its abort may have
    // listed the table before the rename: take the files back
    if (abortMarker != null && fs.exists(abortMarker)) {
      published.foreach(p => GraftSink.deletePart(fs, new Path(p._1)))
      throw new IllegalStateException(s"batch write to $path was aborted")
    }
    if (partIdx.isEmpty) GraftCommit(published.head._1, published.head._2)
    else GraftPartitionedCommit(published)
  }

  override def abort(): Unit = parts.values().forEach(_.drop())

  override def close(): Unit = ()
}

/** `stats` is the rendered sidecar content (null when unavailable): the
  * driver-side batch commit compacts all tasks' stats into one hidden
  * per-directory manifest so planning reads one file, not one per part.
  */
private final case class GraftCommit(file: String, stats: String = null)
    extends WriterCommitMessage

/** A partitioned task's publishes: one (file, rendered stats) per
  * partition directory it wrote.
  */
private final case class GraftPartitionedCommit(entries: Seq[(String, String)])
    extends WriterCommitMessage

private object GraftManifest {
  /** Write the compacted per-directory manifests from task commit
    * messages (atomic tmp+rename; best-effort — absence only disables
    * the one-read path). Partitioned writes produce one manifest per
    * leaf `k=v` directory.
    */
  def write(conf: org.apache.hadoop.conf.Configuration,
      messages: Array[WriterCommitMessage]): Unit = try {
    val entries = GraftSink.committedFiles(messages).filter(_._2 != null)
    if (entries.isEmpty) return
    // one manifest per leaf directory; partitioned writes can touch many
    // directories, so the driver-side writes run in parallel
    import scala.collection.parallel.CollectionConverters._
    entries.groupBy { case (f, _) => new Path(f).getParent }.toSeq.par.foreach {
      case (dir, dirEntries) =>
        val fs = dir.getFileSystem(conf)
        val target = FileStats.manifestFor(dir)
        // merge with a prior job's manifest (append mode): new names win;
        // out-of-band-deleted files' stale entries are harmless (length
        // validation rejects them at read)
        val prior: Seq[(String, String)] =
          FileStats.loadManifest(fs, dir).toSeq.flatMap(_.toSeq)
            .map { case (n, st) => n -> FileStats.render(st) }
        val fresh = dirEntries.map { case (f, s) => new Path(f).getName -> s }
        val freshNames = fresh.map(_._1).toSet
        val merged = prior.filterNot(e => freshNames(e._1)) ++ fresh
        val tmp = new Path(dir, target.getName + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(FileStats.renderManifest(merged).getBytes("UTF-8"))
        finally out.close()
        GraftLogStore.forConf(conf).publish(fs, tmp, target, overwrite = true)
    }
  } catch { case _: Exception => () }
}

/** A commit-log entry whose body is detectably not-yet-complete: an
  * empty claimed slot, or a v7+ entry without its terminating `e`
  * footer. Distinct from malformed/corrupt — this is the normal
  * transient state a TAILING reader can observe between a writer's
  * put-if-absent claim and its body write (entryActionsTailing retries
  * it); a batch fold hitting one reports it exactly (in-flight commit or
  * crashed writer, not garbage).
  */
final class IncompleteCommitException(msg: String)
    extends IllegalStateException(msg)

/** A log/artifact header declares a protocol version NEWER than this
  * reader speaks (the Delta min-reader-version shape): the table is not
  * corrupt — the READER is too old. Distinct from malformed so operators
  * know the fix is "upgrade graft", not "restore the table". Never
  * retried: the state is permanent until the reader is upgraded.
  */
final class ProtocolTooNewException(msg: String)
    extends IllegalArgumentException(msg)

/** Versioned snapshot log for graft batch sinks — the Delta-shaped piece
  * that turns an append-only directory into a table with readable history.
  *
  * Every successful BATCH commit appends `.graft-log/<version>` (20-digit
  * zero-padded, monotonically increasing) listing the root-relative paths
  * the job published. Version allocation is an exclusive `fs.create` on
  * the version name — the same put-if-absent protocol Delta uses on its
  * `_delta_log`, so concurrent appenders serialize without a lock service
  * (the loser retries the next number). Snapshot `v` = the union of the
  * file lists of every entry ≤ v: appends never rewrite history, so a
  * reader pinning `option("versionAsOf", v)` sees a consistent corpus
  * while new batches land — the property a multi-day training run needs
  * from a 100 TB corpus that ingests hourly.
  *
  * `mode("overwrite")` physically deletes the directory's children —
  * including the log — so history intentionally restarts at version 0
  * with the overwriting commit (this sink never retains dead files, so
  * pre-overwrite snapshots would be unreadable anyway). Streaming epochs
  * stay out of the log: their replay-idempotent file names make epoch
  * re-publication a no-op, which a version-per-epoch log would break.
  * Log writes are best-effort (an unloggable commit disables time travel
  * for its files, never the write itself); reads of a LOGGED version are
  * strict — a snapshot referencing a vanished file fails loudly rather
  * than silently shrinking.
  *
  * PROTOCOL v2 (copy-on-write rewrites): an entry may carry `r <path>`
  * REMOVE actions alongside its `f <path>` adds — the Delta remove-action
  * shape that lets DELETE/UPDATE retire a file's rows and publish its
  * rewrite in ONE atomic entry. Snapshot `v` folds the entries in version
  * order (adds union in, removes drop out), so pinned readers flip from
  * the old file set to the new one atomically at the rewrite's version.
  * Entries with no removes keep the `v1` header — an append-only history
  * is byte-identical to what pre-v2 readers wrote and parsed. A commit
  * that carries removes is NEVER best-effort: losing the removes while
  * the adds are published would double the rewritten rows, so the log
  * write failure fails the job.
  *
  * CHECKPOINTS (the Delta `_last_checkpoint` shape): every
  * `graft.commitlog.checkpoint.interval` commits (default 20) the commit
  * path also writes `.graft-log/<v>.checkpoint` — the FOLDED live-file
  * set as of `v` — plus a `_last_checkpoint` pointer. Snapshot resolution
  * seeds from the newest checkpoint ≤ the pinned version and folds only
  * the entry suffix, so planning reads O(suffix) log files instead of
  * O(#commits) — the piece that keeps a once-a-minute streaming upsert
  * (q179's cadence: ~43k commits/month) plannable. Checkpoints are
  * strictly derived state: a missing or corrupt one falls back to the
  * full fold, and raw entries remain the source of truth for CDF,
  * followLog, and vacuum — until [[TrainingData.expireLogHistory]]
  * explicitly retires pre-checkpoint entries, after which reads of
  * expired versions fail loudly (never wrongly).
  */
private[graft] object GraftCommitLog {
  def logDir(root: Path): Path = new Path(root, ".graft-log")

  // ---- schema tracking (`s` lines; docs/TABLE_FORMAT.md "Schema tracking")
  // The schema JSON is base64-wrapped so exotic column names (tabs,
  // newlines) can never corrupt the line-oriented entry format.
  private def schemaLine(schema: StructType): String =
    "s " + java.util.Base64.getEncoder.encodeToString(
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def parseSchemaLine(line: String): Option[StructType] = try {
    val json = new String(java.util.Base64.getDecoder.decode(line.substring(2)),
      java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.types.DataType.fromJson(json) match {
      case st: StructType => Some(st)
      case _ => None
    }
  } catch { case _: Exception => None }

  /** Hadoop-conf key for the auto-checkpoint cadence (set via
    * `spark.hadoop.graft.commitlog.checkpoint.interval`); `0` disables.
    */
  /** Marker file under `.graft-log/`: this log does NOT cover every
    * visible data file in the directory (it was started by an append to
    * a pre-log legacy table). The log-first read default falls back to
    * the raw walk while it exists; [[graft.api.TrainingData.adoptUnlogged]]
    * clears it by committing the uncovered files.
    */
  val PartialLogMarker = "_partial"

  val CheckpointIntervalKey = "graft.commitlog.checkpoint.interval"
  val DefaultCheckpointInterval = 20

  /** Hadoop-conf key overriding the commit-time (`t`) line's raw epoch
    * millis (deterministic tests, backfills); unset = wall clock. Readers
    * clamp monotonically regardless.
    */
  val CommitTimestampKey = "graft.commitlog.timestamp"

  def checkpointFile(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.checkpoint")
  private def lastCheckpointFile(root: Path): Path =
    new Path(logDir(root), "_last_checkpoint")

  /** One commit-log action: an `f` line (file published), an `r` line
    * (file's rows retired by a COW rewrite), or a `d` line (a deletion
    * vector attached to a live file — `dv` names the artifact under
    * `.graft-dv/` holding the file's FULL deleted-ordinal set as of that
    * commit; a later `d` on the same file REPLACES the mapping).
    */
  final case class LogAction(kind: Char, path: String, dv: String = null) {
    def add: Boolean = kind == 'f'
    def isDv: Boolean = kind == 'd'
  }
  object LogAction {
    // the historical two-arg shape (pre-deletion-vector call sites)
    def apply(add: Boolean, path: String): LogAction =
      LogAction(if (add) 'f' else 'r', path)
  }

  private def relativize(fs: org.apache.hadoop.fs.FileSystem, rootQ: String,
      file: String): String = {
    val p = new Path(file)
    // COW callers pass root-RELATIVE paths (possibly with k=v/ segments);
    // qualifying those against the process working directory would miss
    // rootQ and the getName fallback would strip the partition directory
    // from the logged action — keep them verbatim
    if (!p.isAbsolute && p.toUri.getScheme == null) return file
    val q = fs.makeQualified(p).toString
    if (q.startsWith(rootQ)) q.substring(rootQ.length).stripPrefix("/")
    else p.getName
  }

  def append(conf: org.apache.hadoop.conf.Configuration, root: String,
      messages: Array[WriterCommitMessage], removes: Seq[String] = Nil,
      schema: StructType = null, schemaBase: StructType = null,
      removesBase: Long = -1L, dvs: Seq[(String, String)] = Nil,
      dvBase: Map[String, String] = Map.empty,
      changeFiles: Seq[(String, String)] = Nil, opTag: String = null): Unit = {
    val files = GraftSink.committedFiles(messages).map(_._1)
    if (files.isEmpty && removes.isEmpty && dvs.isEmpty) return
    try {
      appendEntry(conf, root, files, removes, schema, schemaBase,
        dvs, dvBase, removesBase, opTag = opTag, changeFiles = changeFiles)
    } catch {
      // an OCC CONFLICT must never be best-effort: swallowing it would
      // report success while the commit's files stay unlogged — invisible
      // to snapshot/pinned/followLog readers and vacuumOrphans food.
      // Abort loudly; this attempt's published files are such orphans.
      // Diagnose by the INNER cause: appendEntry throws CME for schema
      // conflicts AND for removes-liveness / dv-base / read-version OCC
      // losses — rebranding them all as "schema change" would misdirect
      // a sink-routed rewrite that lost a DELETE race.
      case e: java.util.ConcurrentModificationException =>
        val cause =
          if (e.getMessage != null && e.getMessage.contains("schema changed concurrently"))
            "a concurrent schema change"
          else "a concurrent table change (see cause)"
        throw new java.util.ConcurrentModificationException(
          s"append to $root aborted on $cause — this " +
            "attempt's data files are published but UNLOGGED (vacuumOrphans " +
            "reclaims them); re-run against the current snapshot: " +
            e.getMessage)
      // a plain append's log write is best-effort (time travel degrades,
      // the write itself never fails); a rewrite's is NOT — and neither is
      // a dv-carrying commit (losing the masks while the adds published
      // would leave the updated rows' originals unmasked: duplicates)
      case e: Exception => if (removes.nonEmpty || dvs.nonEmpty) throw e
    }
  }

  /** Allocate the next version (put-if-absent) and write one entry with
    * the given adds and removes (paths may be absolute — they are
    * root-relativized). Returns the committed version. Throws on failure.
    *
    * `dvs` attaches deletion vectors: (artifact name under `.graft-dv/`,
    * target file path) pairs — merge-on-read DELETE, no data movement.
    * `dvBase` is, per target, the dv artifact the new vector MERGED from
    * (null/absent = the file had none) — the OCC token: a racer landing a
    * different vector or retiring the target first aborts this commit
    * loudly (publishing it would silently drop the racer's deletes).
    */
  def appendEntry(conf: org.apache.hadoop.conf.Configuration, root: String,
      adds: Seq[String], removes: Seq[String] = Nil,
      schema: StructType = null, schemaBase: StructType = null,
      dvs: Seq[(String, String)] = Nil,
      dvBase: Map[String, String] = Map.empty,
      removesBase: Long = -1L,
      opTag: String = null,
      changeFiles: Seq[(String, String)] = Nil): Long = {
    // a SCHEMA-ONLY entry (no file actions) is how ALTER TABLE
    // add/drop-column lands: the metadata changes at a version boundary
    // with no data movement
    require(adds.nonEmpty || removes.nonEmpty || schema != null || dvs.nonEmpty,
      "empty commit-log entry")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val rootQ = fs.makeQualified(rootPath).toString
    val dir = logDir(rootPath)
    fs.mkdirs(dir)
    val relRemoves = removes.map(relativize(fs, rootQ, _))
    val relAdds = adds.map(relativize(fs, rootQ, _))
    val relDvs = dvs.map { case (dvn, t) => (dvn, relativize(fs, rootQ, t)) }
    val relAddSet = relAdds.toSet

    // COMMIT-TIME CONFLICT DETECTION for rewrites (Delta's optimistic-
    // concurrency shape, simplified): two racing rewrites both pass
    // phase-1 against the same snapshot; the one that lands the LATER
    // version would remove files the earlier one already removed — and a
    // published entry like that fails EVERY later fold (the log is
    // poisoned for all readers, forever). Validate the removes against
    // the live set BEFORE taking a slot (so the unwritten-entry window
    // stays the single create→write step it always was); on losing a
    // slot race, fold only the DELTA entries and re-validate.
    // one listing serves the base version and both validation folds below
    val log = new LogListing(fs, rootPath)
    var base: Option[Long] = log.versions.lastOption
    // LEGACY-DIRECTORY MARKER: the FIRST commit over a directory that
    // already holds visible data files this commit is not publishing
    // (an append to a pre-log legacy table) stamps `.graft-log/_partial`
    // — the log does NOT cover the whole directory, so the log-first
    // read default must keep walking the tree for it (the pre-existing
    // files would otherwise vanish from option-free reads). Auto-adopting
    // them instead would break in-flight invisibility: a racing writer's
    // published-but-uncommitted files are indistinguishable from legacy
    // data, and adopting a crasher's partial output enrolls garbage
    // forever. Explicit adoption is TrainingData.adoptUnlogged (the Delta
    // CONVERT shape: the caller asserts no writer is in flight). The
    // marker write is STRICT — committing without it would silently
    // shrink default reads.
    def scanForeign(covered: String => Boolean): Boolean = {
      var foreign = false
      def scan(p: Path, prefix: String): Unit =
        fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (!foreign && !n.startsWith(".") && !n.startsWith("_")) {
            if (st.isDirectory) scan(st.getPath, prefix + n + "/")
            else if (!covered(prefix + n)) foreign = true
          }
        }
      try scan(rootPath, "")
      catch { case _: java.io.FileNotFoundException => () }
      foreign
    }
    if (base.isEmpty) {
      // content-less: existence IS the signal, so a plain overwrite-create
      // is race-safe (two first-committers both stamping it converge)
      if (scanForeign(relAddSet.contains))
        fs.create(new Path(dir, PartialLogMarker), true).close()
    } else if (fs.exists(new Path(dir, PartialLogMarker))) {
      // HEAL a stamped marker: two racing FIRST commits each see the
      // other's published-but-uncommitted files as foreign and both stamp
      // `_partial` — yet once both land, the log covers the whole
      // directory and the marker would silently pin default reads to the
      // raw walk forever (after a retainHistory delete that walk would
      // even serve retired originals). A later commit re-checks: if each
      // visible file is referenced by SOME version (live or retired) or
      // added by THIS commit, the marker lifts. A genuine legacy file —
      // or a racing writer's in-flight output — keeps it.
      //
      // THROTTLED (round 14): the check folds the whole log and walks the
      // whole tree, and a genuine legacy table keeps the marker forever —
      // left unthrottled, EVERY append to such a table pays
      // O(history + tree). A failed check stamps the log version it ran
      // at into the marker (readers only test existence; adoption deletes
      // it regardless of content), and later commits skip the re-check
      // until the log advances one checkpoint interval. The racing-first-
      // commit happy path is untouched: a fresh marker is content-less,
      // so the very next commit still attempts the heal.
      val markerPath = new Path(dir, PartialLogMarker)
      val lastChecked: Long = try {
        val in = fs.open(markerPath)
        try {
          val buf = new Array[Byte](32)
          val n = in.read(buf)
          if (n <= 0) -1L else new String(buf, 0, n, "UTF-8").trim.toLong
        } finally in.close()
      } catch { case _: Exception => -1L }
      val interval = conf.getInt(CheckpointIntervalKey, DefaultCheckpointInterval)
      val baseV = base.getOrElse(0L)
      if (lastChecked < 0 || baseV >= lastChecked + interval) {
        try {
          val (allRef, _) = GraftCommitLog.allReferenced(fs, rootPath)
          if (!scanForeign(rel => allRef.contains(rel) || relAddSet.contains(rel)))
            fs.delete(markerPath, false)
          else {
            val out = fs.create(markerPath, true) // still foreign: remember the attempt
            try out.write(baseV.toString.getBytes("UTF-8")) finally out.close()
          }
        } catch { case _: Exception => () } // healing is best-effort
      }
    }
    val needState = relRemoves.nonEmpty || relDvs.nonEmpty
    // path -> dv-artifact name (null = live with no deletion vector)
    var live: Map[String, String] =
      if (!needState) Map.empty
      else try base.map(liveStateAsOf(log, _)).getOrElse(Map.empty)
      catch { case e: Exception =>
        throw new java.io.IOException(
          s"commit log under $root: could not validate rewrite preconditions " +
            "— aborted without publishing", e)
      }
    // the rewrite side of the deletion-vector OCC: the snapshot the
    // rewrite READ its candidates at. If a concurrent deleteWhereDV
    // attached (or replaced) a vector on a removed file AFTER that read,
    // committing the rewrite would publish files rebuilt from pre-delete
    // rows — silent resurrection. Its dv state is fixed at the read
    // version; only `live` refolds on lost slot races.
    val removesBaseState: Map[String, String] =
      if (removesBase < 0 || relRemoves.isEmpty) Map.empty
      else try liveStateAsOf(log, removesBase)
      catch { case e: Exception =>
        throw new java.io.IOException(
          s"commit log under $root: could not resolve the rewrite's read " +
            s"version $removesBase to validate against concurrent deletes — " +
            "aborted without publishing", e)
      }
    def validate(): Unit = {
      if (removesBase >= 0) relRemoves.foreach { f =>
        val cur = live.getOrElse(f, null)
        val base = removesBaseState.getOrElse(f, null)
        if (live.contains(f) && cur != base)
          throw new java.util.ConcurrentModificationException(
            s"commit log under $root: '$f' carries deletion vector '$cur' but " +
              s"the rewrite read it at version $removesBase with '$base' — a " +
              "concurrent DELETE landed after the rewrite's read; re-run the " +
              "maintenance operation against the current snapshot (committing " +
              "would resurrect the concurrently deleted rows)")
      }
      relRemoves.find(!live.contains(_)).foreach { f =>
        throw new java.util.ConcurrentModificationException(
          s"commit log under $root: the commit would remove '$f', which is " +
            "not live at the current version — a concurrent rewrite retired " +
            "it first; re-run the maintenance operation against the current " +
            "snapshot")
      }
      relDvs.foreach { case (_, t) =>
        if (relAddSet.contains(t)) {
          // a vector may target a file ADDED by this same entry — the
          // RESTORE re-pin shape (`f` precedes `d` in the body, so the
          // fold sees the add first). No prior state exists to race
          // against, so the merge base must be none.
          require(dvBase.getOrElse(t, null) == null,
            s"commit log under $root: the commit attaches a deletion vector " +
              s"to '$t', a file it adds itself, but declares a merge base — " +
              "malformed commit")
        } else {
          if (!live.contains(t))
            throw new java.util.ConcurrentModificationException(
              s"commit log under $root: the commit would attach a deletion " +
                s"vector to '$t', which is not live at the current version — a " +
                "concurrent rewrite retired it; re-run the delete against the " +
                "current snapshot")
          val cur = live(t)
          val expected = dvBase.getOrElse(t, null)
          if (cur != expected)
            throw new java.util.ConcurrentModificationException(
              s"commit log under $root: '$t' carries deletion vector " +
                s"'$cur' but this commit merged from '$expected' — a concurrent " +
                "DELETE landed first; re-run against the current snapshot (a " +
                "stale merge would silently drop the racer's deletes)")
        }
      }
    }
    validate()

    // COMMIT-TIME SCHEMA CONFLICT POLICY (the Delta metadata-conflict
    // shape): `schemaBase` is the recorded schema this commit RESOLVED
    // against (null = none existed). At commit time, against the actual
    // predecessor's recorded schema `cur`:
    //   - cur == base (metadata unchanged) or cur == ours (a racer landed
    //     the same result): record ours;
    //   - cur changed and ours == base (a plain append not trying to
    //     change anything): write the entry WITHOUT a schema line — the
    //     files are recorded, the schema record stays the racer's (never
    //     regress, never merge — merging cannot distinguish a column the
    //     racer ADDED from one an ALTER just DROPPED);
    //   - cur changed and ours != base (a schema-CHANGING commit —
    //     mergeschema, widening, ALTER — racing another metadata change):
    //     ABORT loudly; re-run against the current schema.
    def eqSchema(a: StructType, b: StructType): Boolean =
      (a == null && b == null) ||
        (a != null && b != null && GraftSink.sameTypeIgnoreNullability(a, b))
    def schemaFor(prev: Option[Long]): StructType = {
      if (schema == null) return null
      // STRICT read: this is the correctness-bearing conflict check — a
      // transient failure reading the predecessor's recorded schema must
      // abort the commit, never degrade to "no conflicting schema" (a
      // racer's ALTER/widen could then be silently overwritten by ours)
      val cur = prev.flatMap { p =>
        // the pre-claim listing covers p unless a lost race moved past it
        try schemaAsOfStrict(
            if (log.versions.lastOption.contains(p)) log else new LogListing(fs, rootPath), p)
        catch { case e: Exception =>
          throw new java.io.IOException(
            s"commit log under $root: could not read the predecessor " +
              s"version $p's recorded schema while validating this commit's " +
              "schema line — aborting without publishing (assuming no " +
              "conflicting schema could drop a concurrent schema change)", e)
        }
      }.orNull
      if (eqSchema(cur, schemaBase) || eqSchema(cur, schema)) schema
      else if (eqSchema(schema, schemaBase)) null // plain append: defer to the racer
      else throw new java.util.ConcurrentModificationException(
        s"commit log under $root: the table schema changed concurrently " +
          "(the predecessor version records a different schema than this " +
          "commit resolved against) — re-run the operation against the " +
          "current schema")
    }

    def body(prev: Option[Long]): String = {
      val sch = schemaFor(prev)
      // v3 = v2 + an optional `s <base64 schema json>` line; v4 = v3 + `d
      // <artifact> <path>` deletion-vector lines; v5 = v4 + a `t
      // <epochMillis>` commit-time line (timestampAsOf resolution —
      // in-entry like Delta's InCommitTimestamps, because file mtimes do
      // not survive copies/object-store migrations). Every new entry
      // records one; untouched older history keeps its original headers.
      // The raw value may be overridden per-commit via the Hadoop conf
      // key (deterministic tests / backfills); readers clamp
      // monotonically, so a skewed writer clock can never reorder time.
      val ts = conf.getLong(CommitTimestampKey, System.currentTimeMillis())
      // v6 = v5 + an `o <tag>` OPERATION line (RESTORE and, since round
      // 16, OPTIMIZE / materializeDeletes / adopt / clone write one —
      // changeFeed's shrink-legality and no-logical-change rails key on
      // them). v7 = v6 + a TERMINATING `e <actionCount>` footer on EVERY
      // entry: the footer is what makes an entry's content tear-detectable
      // for concurrent readers (a followLog tail polling between the
      // put-if-absent claim and the body write, or after a writer crash)
      // — a prefix torn at a line boundary would otherwise parse as a
      // valid smaller commit and silently drop files. Unlike v6 this
      // bump is global, because the guarantee is only worth having if
      // every entry carries it. v8 = v7 + `c <file>` CHANGE-DATA lines
      // (Delta CDC-file shape): row-level pre/post images a COW rewrite
      // recorded under `.graft-cdc/`, consumed by changeFeed / streaming
      // CDF instead of refusing on the rewrite. Not an action — state
      // folds ignore them. Only entries that carry them declare v8, so
      // untouched tables stay readable by older v7 readers.
      val header =
        if (changeFiles.nonEmpty) "graft-commit v8" else "graft-commit v7"
      // line order is LOAD-BEARING for the in-order state fold: `r` before
      // `f` (a RESTORE may retire-and-re-pin the same path to detach its
      // vector) and `f` before `d` (a vector may target a file this entry
      // adds). Every reader folds sequentially, so old entries with the
      // historical d-before-f order keep folding correctly — they never
      // target in-entry adds. The `e` footer is strictly LAST.
      val nActions = relRemoves.size + relAdds.size + relDvs.size
      val bodyLines = header +:
        (Seq(s"t $ts") ++
          (if (opTag != null) Seq(s"o $opTag") else Nil) ++
          (if (sch != null) Seq(schemaLine(sch)) else Nil) ++
          relRemoves.map("r " + _) ++
          relAdds.map("f " + _) ++
          relDvs.map { case (dvn, t) => s"d $dvn $t" } ++
          changeFiles.map { case (ct, n) => s"c $ct $n" })
      // the footer's third token is a CRC32 of everything before it:
      // integrity that travels WITH the entry to any store (a filesystem
      // .crc sidecar would not), so in-line bit rot fails the read
      // loudly instead of folding a corrupted path into the live set
      bodyLines.mkString("", "\n", "\n") +
        GraftCommitLog.footerFor(bodyLines, nActions) + "\n"
    }

    // the protocol FLOOR: recomputed versions never go below the first
    // successor this commit observed — a transiently-empty listing (or a
    // fresh-target DV commit losing its first race) must never send the
    // retry to slot 0 of an expired-history table, where the entry would
    // land below the covering checkpoint and its rows become invisible
    val floorV = base.map(_ + 1).getOrElse(0L)
    var v = floorV
    var attempts = 0
    var lastCreateFailure: Throwable = null
    // lost the version race (at CREATE on rename stores, at CLOSE on
    // conditional-put stores): fold the delta entries (base, newBase],
    // re-validate, retry at newBase+1
    def onLostRace(cause: java.io.IOException): Unit = {
      lastCreateFailure = cause
      if (needState) {
        val vs = versions(fs, rootPath)
        val delta = vs.filter(x => x >= v)
        try {
          live = delta.foldLeft(live) { (l, dv) =>
            // the racer we just lost to may still be writing its body
            entryActionsAwait(fs, rootPath, dv).foldLeft(l) { (s, a) =>
              a.kind match {
                case 'f' => s.updated(a.path, null)
                case 'r' => s - a.path
                case _   => if (s.contains(a.path)) s.updated(a.path, a.dv) else s
              }
            }
          }
        } catch { case e: Exception =>
          throw new java.io.IOException(
            s"commit log under $root: could not validate rewrite " +
              "preconditions after losing a version race — aborted " +
              "without publishing", e)
        }
        validate()
        v = math.max(floorV, vs.lastOption.map(_ + 1).getOrElse(floorV))
      } else {
        // recompute from the LISTING (floored), never a blind bump:
        // if our own claim failed and was cleaned up (nothing exists
        // at v), the retry must reuse v — a blind v+1 would leave a
        // silent version hole, and a hole at 0 makes the table
        // unreadable to followLog forever
        v = math.max(floorV,
          versions(fs, rootPath).lastOption.map(_ + 1).getOrElse(floorV))
      }
      attempts += 1
    }
    while (attempts < 64) {
      val entry = new Path(dir, f"$v%020d")
      // resolve the body (and the schema-conflict policy) BEFORE taking
      // the slot: an abort must never leave a created-but-empty entry
      val bodyStr = body(Some(v - 1).filter(_ >= 0))
      // create-time IOException = lost the put-if-absent race. A failure
      // AFTER create is OURS on a rename store (disk full, transient
      // fault) but AMBIGUOUS on a conditional-put store, where the CAS is
      // decided at close — the close-time catch below disambiguates.
      val out =
        // put-if-absent through the LogStore seam (docs/TABLE_FORMAT.md
        // "Storage primitives"): the ONE primitive concurrent commit
        // serialization rests on
        try GraftLogStore.forConf(conf).createAtomic(fs, entry)
        catch { case ce: java.io.IOException =>
          onLostRace(ce)
          null
        }
      if (out != null) {
        var lostAtClose = false
        try {
          try out.write(bodyStr.getBytes("UTF-8"))
          finally out.close()
        } catch {
          case e: java.io.IOException =>
            // an unbuffered stream can make the entry FULLY visible before
            // a close()-time failure: retracting a commit a concurrent
            // reader may already have served is worse than accepting it —
            // verify, and accept when the entry parses complete AND is
            // OURS. The byte-equality check matters on conditional-put
            // stores (the S3 LogStore shape), where the put-if-absent CAS
            // is decided at CLOSE: a close-time IOException there can mean
            // we LOST the slot to a competitor whose complete entry is
            // already visible — claiming its version as our success would
            // silently drop THIS commit's actions from the log (found by
            // the S3-semantics soak, round 14). A complete-but-foreign
            // entry is a lost race: fold the delta and retry at the next
            // version. Only a CONFIRMED tear (incomplete/corrupt parse)
            // may be replaced; an unreadable verify (transient IO) proves
            // nothing, so the entry stays as-is — readers classify it
            // themselves.
            val verdict =
              try {
                entryActions(fs, rootPath, v) // parses complete — whose?
                val mine = bodyStr.getBytes("UTF-8")
                val in = fs.open(entry)
                val visible =
                  try {
                    val buf = new java.io.ByteArrayOutputStream()
                    val chunk = new Array[Byte](8192)
                    var n = in.read(chunk)
                    while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
                    buf.toByteArray
                  } finally in.close()
                if (java.util.Arrays.equals(visible, mine)) 0 // published (ours)
                else 3 // a competitor's complete entry: we lost the slot
              }
              catch {
                case _: IncompleteCommitException | _: IllegalArgumentException => 1 // torn
                case _: Exception => 2 // unknown
              }
            if (verdict == 0) {
              maybeCheckpoint(conf, rootPath, v)
              return v
            }
            if (verdict == 3) {
              onLostRace(e)
              lostAtClose = true
            } else {
            if (verdict == 1) {
              // replace the torn claim IN PLACE with a valid NO-OP commit
              // (tagged, zero actions): the log stays contiguous and
              // readable for everyone — DELETING the slot instead leaves
              // a version hole whenever a competitor already claimed past
              // us (and a hole at 0 bricks the table). In-place overwrite
              // is the right primitive on every store: an object-store
              // PUT is atomically visible, and a filesystem truncate's
              // torn window reads as in-flight (the footer), never as a
              // missing version the way a delete+rename swap would.
              // If even the tombstone cannot land (disk full), the torn
              // entry STAYS in place: readers already classify it as
              // in-flight/crashed and fail loudly, whereas deleting the
              // slot leaves a permanent hole whenever a competitor has
              // already claimed past us — versions() silently skips holes
              // in batch folds, and a tailing followLog only outwaits a
              // missing entry for the 5s grace before failing the stream.
              // Loud-and-present beats silently-absent.
              val ts2 = conf.getLong(CommitTimestampKey, System.currentTimeMillis())
              val tombLines = Seq("graft-commit v7", s"t $ts2", "o aborted-commit")
              val tomb = (tombLines.mkString("", "\n", "\n") +
                footerFor(tombLines, 0L) + "\n").getBytes("UTF-8")
              var tombTries = 0
              var tombDone = false
              while (!tombDone && tombTries < 3) {
                tombTries += 1
                try {
                  val o2 = fs.create(entry, true)
                  try o2.write(tomb) finally o2.close()
                  tombDone = true
                } catch { case _: Exception => () }
              }
            }
            throw e
            }
        }
        if (!lostAtClose) {
          maybeCheckpoint(conf, rootPath, v)
          return v
        }
      }
    }
    throw new java.io.IOException(
      s"commit log under $root: could not allocate a version after 64 " +
        "attempts (last failure attached — a persistent create failure " +
        "looks like an endless lost race)", lastCreateFailure)
  }

  /** Auto-checkpoint hook on the commit path: every `interval` commits,
    * best-effort (a failed checkpoint never fails the commit — the next
    * reader just folds more entries).
    */
  private def maybeCheckpoint(conf: org.apache.hadoop.conf.Configuration,
      root: Path, committed: Long): Unit = try {
    val interval = conf.getInt(CheckpointIntervalKey, DefaultCheckpointInterval)
    if (interval > 0 && committed > 0 && committed % interval == 0)
      writeCheckpoint(conf, root, committed)
  } catch { case _: Exception => () }

  /** Write `.graft-log/<version>.checkpoint` (the folded live-file set as
    * of `version`, sorted) and advance the `_last_checkpoint` pointer.
    * Deterministic content → tmp+rename overwrite is safe under races.
    */
  def writeCheckpoint(conf: org.apache.hadoop.conf.Configuration,
      root: Path, version: Long): Unit = {
    val fs = root.getFileSystem(conf)
    val live = liveStateAsOf(fs, root, version).toSeq.sortBy(_._1)
    // the checkpoint carries the schema as of its version so schema
    // tracking survives expireLogHistory retiring the raw entries; it
    // carries deletion-vector attachments for the same reason (v3)
    // STRICT schema read: a checkpoint written without a schema line on a
    // transient IO blip would later be read as PROOF the table is
    // untracked (the bounded-walk stop) — fail the checkpoint instead
    val schema = schemaAsOfStrict(fs, root, version)
    // the checkpoint carries its version's RESOLVED (clamped) commit time
    // so timestampAsOf keeps resolving after expireLogHistory retires the
    // raw entries; best-effort like the schema line
    val ts: Option[Long] =
      try Some(resolvedTimestampAt(fs, root, version))
      catch { case _: Exception => None }
    val header = "graft-checkpoint v4" // v4 = v3 + optional `t` line
    val lines = live.map { case (p, dv) =>
      if (dv == null) "f " + p else s"d $dv $p"
    }
    val body = (header +:
        (ts.map(t => s"t $t").toSeq ++ schema.map(schemaLine).toSeq ++ lines))
      .mkString("", "\n", "\n")
    val target = checkpointFile(root, version)
    val tmp = new Path(logDir(root), f".$version%020d.checkpoint.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    GraftLogStore.forConf(conf).publish(fs, tmp, target, overwrite = true)
    // advisory pointer (one-read fast path); content is re-validated on read
    val ptr = fs.create(lastCheckpointFile(root), true)
    try ptr.write(version.toString.getBytes("UTF-8")) finally ptr.close()
  }

  /** All checkpoint versions present under `root`, ascending. The
    * advisory `_last_checkpoint` pointer (Delta's shape) is consulted by
    * EXACT path too — object stores with lagging prefix listings can hide
    * a just-written checkpoint from the listing while point reads stay
    * consistent (round 15, the lag-listing fake); the pointed-at version
    * is admitted only when its checkpoint file actually exists.
    */
  def checkpointVersions(fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[Long] =
    new LogListing(fs, root).checkpoints

  /** One listing of `.graft-log`, taken on first use and shared by every
    * version and checkpoint lookup made through it: a resolution that
    * needs the versions, the live state and the recorded schema lists the
    * log directory once instead of once per lookup. Each lookup keeps its
    * eventual-listing rail ([[versions]]' exists()-probed gaps and tail,
    * [[checkpointVersions]]' `_last_checkpoint` pointer). A listing is
    * a snapshot of the directory: hold it for one resolution, not longer.
    */
  final class LogListing(val fs: org.apache.hadoop.fs.FileSystem, val root: Path) {
    private lazy val names: Seq[String] = {
      val d = logDir(root)
      if (!fs.exists(d)) null else fs.listStatus(d).toSeq.map(_.getPath.getName)
    }

    /** All committed versions, ascending; empty when unlogged. */
    lazy val versions: Seq[Long] = try {
      if (names == null) Nil
      else {
        val d = logDir(root)
        val listed = names.filter(n => n.nonEmpty && n.forall(_.isDigit))
          .map(_.toLong).sorted
        // eventual-LISTING rail (round 15, lag-listing fake): object stores
        // with lagging prefix listings can omit just-PUT entries while point
        // reads stay consistent. Version numbers are contiguous from the
        // earliest readable entry (claims that lose a race write nothing;
        // expiry removes only a prefix), so (a) fill interior gaps and
        // (b) extend the tail by exists()-probes — a reader must never
        // resolve a STALE latest when the entry is already readable, and an
        // all-lagged listing must not read as "no log".
        val set = scala.collection.mutable.SortedSet(listed: _*)
        def entryAt(v: Long): Boolean = fs.exists(new Path(d, f"$v%020d"))
        if (set.isEmpty) {
          var v = 0L
          while (entryAt(v)) { set += v; v += 1 }
        } else {
          var v = set.min
          while (v < set.max) {
            if (!set.contains(v) && entryAt(v)) set += v
            v += 1
          }
          v = set.max + 1
          while (entryAt(v)) { set += v; v += 1 }
        }
        set.toSeq
      }
    } catch { case _: Exception => Nil }

    /** All checkpoint versions, ascending. */
    lazy val checkpoints: Seq[Long] = try {
      if (names == null) Nil
      else {
        val listed = names
          .filter(n => n.endsWith(".checkpoint"))
          .map(_.stripSuffix(".checkpoint"))
          .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        val pointed: Seq[Long] = try {
          val p = lastCheckpointFile(root)
          if (!fs.exists(p)) Nil
          else {
            val in = fs.open(p)
            val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
            if (txt.nonEmpty && txt.length <= 19 && txt.forall(_.isDigit) &&
                fs.exists(checkpointFile(root, txt.toLong))) Seq(txt.toLong)
            else Nil
          }
        } catch { case _: Exception => Nil }
        (listed ++ pointed).distinct.sorted
      }
    } catch { case _: Exception => Nil }
  }

  /** Parse one checkpoint's live-file set; None on any read/parse failure
    * (checkpoints are derived state — a bad one must only cost the
    * fallback fold, never correctness).
    */
  def readCheckpoint(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[Set[String]] =
    readCheckpointState(fs, root, version).map(_.keySet)

  /** Min-reader gate for checkpoints: a well-formed header declaring a
    * NEWER checkpoint protocol throws the upgrade-shaped error instead of
    * degrading to the entry fold — after expireLogHistory the checkpoint
    * is the ONLY reference the surviving files have, so "silently ignore
    * what I can't parse" could fold an incomplete live set.
    */
  private val declaredCkptRe = """^graft-checkpoint v(\d{1,9})$""".r
  private def checkCheckpointCeiling(p: Path, lines: Seq[String]): Unit =
    lines.headOption.foreach {
      case declaredCkptRe(d) if d.toInt > MaxCheckpointVersion =>
        throw new ProtocolTooNewException(
          s"checkpoint $p uses protocol v$d > max supported " +
            s"v$MaxCheckpointVersion — this reader is too old for the " +
            "table; upgrade graft to read it (the checkpoint is not corrupt)")
      case _ => ()
    }

  /** Parse one checkpoint's live state — path -> deletion-vector artifact
    * name (null = none); None on any read/parse failure (checkpoints are
    * derived state — a bad one must only cost the fallback fold, never
    * correctness).
    */
  def readCheckpointState(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[Map[String, String]] = try {
    val p = checkpointFile(root, version)
    if (!fs.exists(p)) return None
    val lines = slurpLines(fs, p)
    checkCheckpointCeiling(p, lines)
    val v4 = lines.headOption.contains("graft-checkpoint v4")
    val v3 = v4 || lines.headOption.contains("graft-checkpoint v3")
    val v2 = v3 || lines.headOption.contains("graft-checkpoint v2")
    if (!v2 && !lines.headOption.contains("graft-checkpoint v1")) return None
    val tail =
      if (v2) lines.tail.filterNot(l =>
        l.startsWith("s ") || (v4 && l.startsWith("t ")))
      else lines.tail
    val state = Map.newBuilder[String, String]
    tail.foreach { l =>
      if (l.startsWith("f ")) state += (l.substring(2) -> null)
      else if (v3 && l.startsWith("d ")) {
        val rest = l.substring(2)
        val sp = rest.indexOf(' ')
        if (sp <= 0) return None
        state += (rest.substring(sp + 1) -> rest.substring(0, sp))
      } else return None
    }
    Some(state.result())
  } catch {
    case e: ProtocolTooNewException => throw e // upgrade-shaped, never masked
    case _: Exception => None
  }

  /** A v4 checkpoint's recorded (clamped) commit time; None otherwise. */
  def readCheckpointTimestamp(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[Long] = try {
    val p = checkpointFile(root, version)
    if (!fs.exists(p)) return None
    val lines = slurpLines(fs, p)
    checkCheckpointCeiling(p, lines)
    if (!lines.headOption.contains("graft-checkpoint v4")) None
    else lines.tail.find(_.startsWith("t "))
      .flatMap(l => scala.util.Try(l.substring(2).trim.toLong).toOption)
  } catch {
    case e: ProtocolTooNewException => throw e
    case _: Exception => None
  }

  /** Newest READABLE checkpoint at or before `version`, with its
    * deletion-vector attachments, tried newest first (`_last_checkpoint`
    * is only a hint — the listing is the authority, and an unreadable
    * checkpoint falls through to the next).
    */
  def checkpointStateAtOrBefore(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[(Long, Map[String, String])] =
    checkpointStateAtOrBefore(new LogListing(fs, root), version)

  private def checkpointStateAtOrBefore(log: LogListing,
      version: Long): Option[(Long, Map[String, String])] =
    log.checkpoints.filter(_ <= version).sorted(Ordering[Long].reverse)
      .iterator.flatMap(v => readCheckpointState(log.fs, log.root, v).map((v, _)))
      .nextOption()

  /** All committed versions under `root`, ascending; empty when unlogged. */
  def versions(fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[Long] =
    new LogListing(fs, root).versions

  /** Root-relative live-file set as of `version`: entries ≤ v folded in
    * version order (adds union in, removes drop out). Fails loudly on an
    * unknown version, a malformed entry, or a remove of a file that was
    * not live — a snapshot read must never silently degrade to "whatever
    * is there".
    */
  def liveFilesAsOf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Set[String] = liveStateAsOf(fs, root, version).keySet

  /** Root-relative live state as of `version` — path -> deletion-vector
    * artifact name (null = live with no deletion vector): entries ≤ v
    * folded in version order (adds union in, removes drop out, `d` lines
    * replace the target's vector). Fails loudly on an unknown version, a
    * malformed entry, or a remove/attach against a file that was not live
    * — a snapshot read must never silently degrade to "whatever is there".
    */
  def liveStateAsOf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Map[String, String] =
    liveStateAsOf(new LogListing(fs, root), version)

  /** [[liveStateAsOf]] over a listing the caller already holds. */
  def liveStateAsOf(log: LogListing, version: Long): Map[String, String] = {
    val (fs, root) = (log.fs, log.root)
    val vs = log.versions
    require(vs.nonEmpty,
      s"versionAsOf=$version: no graft commit log under $root " +
        "(only graft batch sinks write .graft-log)")
    if (!vs.contains(version)) {
      // targeted error when the miss is expired history, not a typo
      if (version < vs.min && log.checkpoints.nonEmpty)
        throw new IllegalArgumentException(
          s"versionAsOf=$version: log history before version ${vs.min} has been " +
            s"expired (expireLogHistory) — earliest readable version is ${vs.min}")
      throw new IllegalArgumentException(
        s"versionAsOf=$version: unknown version (available: ${vs.min}..${vs.max})")
    }
    // seed from the newest readable checkpoint ≤ version and fold only the
    // suffix: O(suffix) entry reads instead of O(#commits)
    val (seedV, seed) = checkpointStateAtOrBefore(log, version)
      .getOrElse((-1L, Map.empty[String, String]))
    // rail: with no usable seed the full fold must actually start at the
    // log's beginning — if the prefix was expired and the checkpoint is
    // unreadable, a partial fold would return a silently WRONG file set
    if (seedV < 0) require(vs.min == 0L,
      s"commit log under $root starts at version ${vs.min} (history expired) " +
        "but no readable checkpoint covers the missing prefix — refusing a " +
        "partial fold; restore .graft-log/<v>.checkpoint or the expired entries")
    vs.filter(v => v > seedV && v <= version).foldLeft(seed) { (live, v) =>
      // await-variant: a fold racing a concurrent committer can list its
      // claimed-but-unwritten entry — wait out the transient, never
      // abort a snapshot read (or a commit validation) on it
      entryActionsAwait(fs, root, v).foldLeft(live) { (l, a) =>
        a.kind match {
          case 'f' => l.updated(a.path, null)
          case 'r' =>
            require(l.contains(a.path),
              s"commit-log entry $v under $root removes '${a.path}', which is not " +
                "live at that version — malformed rewrite entry")
            l - a.path
          case _ =>
            require(l.contains(a.path),
              s"commit-log entry $v under $root attaches a deletion vector to " +
                s"'${a.path}', which is not live at that version — malformed entry")
            l.updated(a.path, a.dv)
        }
      }
    }
  }

  /** Every file ANY entry ever added — what vacuum must treat as
    * untouchable: files retired by a COW rewrite (`r` actions) are still
    * referenced by the older snapshots that included them. Checkpoint
    * live sets count too: after [[TrainingData.expireLogHistory]] retires
    * pre-checkpoint entries, the checkpoint is the only reference the
    * surviving files have.
    */
  def allReferencedFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path): Set[String] =
    allReferenced(fs, root)._1

  /** (data files, deletion-vector artifact names) referenced by ANY
    * surviving entry or checkpoint — see [[allReferencedWithCdc]].
    */
  def allReferenced(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): (Set[String], Set[String]) = {
    val (f, d, _) = allReferencedWithCdc(fs, root)
    (f, d)
  }

  /** (data files, deletion-vector artifact names, change-data file
    * names) referenced by ANY surviving entry or checkpoint — ONE pass
    * over the log (vacuum and expiry consult all three sets; folding
    * multiple times would multiply the log I/O on a long
    * streaming-upsert history). Change-data files live only on v8+
    * entries (never in checkpoints), so expiring an entry's history
    * makes its cdc files unreferenced — the next vacuum's food.
    */
  def allReferencedWithCdc(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): (Set[String], Set[String], Set[String]) = {
    val files = Set.newBuilder[String]
    val dvs = Set.newBuilder[String]
    val cdc = Set.newBuilder[String]
    checkpointVersions(fs, root).foreach { v =>
      readCheckpointState(fs, root, v).foreach(_.foreach { case (p, dv) =>
        files += p
        if (dv != null) dvs += dv
      })
    }
    // a vacuum racing an in-flight committer can list a claimed-but-
    // unwritten entry — ride it out like every other fold; one slurp per
    // entry serves both the actions and the `c` lines
    versions(fs, root).foreach { v =>
      retryInFlight(5000L)(inFlightState) {
        val (p, lines) = entryLines(fs, root, v)
        parseActions(p, lines).foreach { a =>
          if (a.add) files += a.path
          else if (a.isDv) dvs += a.dv
        }
        if (headerVersion(lines) >= 8)
          lines.tail.filter(_.startsWith("c ")).foreach { l =>
            val rest = l.substring(2)
            val sp = rest.indexOf(' ')
            if (sp > 0) cdc += rest.substring(sp + 1)
          }
      }
    }
    (files.result(), dvs.result(), cdc.result())
  }

  /** Root-relative file set committed STRICTLY AFTER `sinceVersion` — the
    * incremental-consumption primitive: a batch consumer remembers the
    * last version it processed and reads only what newer commits added
    * (exactly the Delta CDF "changes since" shape for an append-only
    * table). `sinceVersion` must itself exist in the log, so a consumer
    * can never silently skip history it missed.
    */
  def filesSince(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      sinceVersion: Long): Set[String] = {
    val vs = versions(fs, root)
    require(vs.nonEmpty,
      s"changesSinceVersion=$sinceVersion: no graft commit log under $root " +
        "(only graft batch sinks write .graft-log)")
    if (!vs.contains(sinceVersion)) {
      if (sinceVersion < vs.min && checkpointVersions(fs, root).nonEmpty)
        throw new IllegalArgumentException(
          s"changesSinceVersion=$sinceVersion: log history before version " +
            s"${vs.min} has been expired (expireLogHistory) — incremental " +
            "reading cannot bridge expired history; a full refresh is required")
      throw new IllegalArgumentException(
        s"changesSinceVersion=$sinceVersion: unknown version " +
          s"(available: ${vs.min}..${vs.max}) — the consumer's checkpoint " +
          "predates this log (was the table overwritten?)")
    }
    // Fold the newer entries: adds accumulate; a remove of a file added
    // WITHIN the range just cancels it (the consumer never saw it), but a
    // remove of history the consumer already processed (added ≤ since)
    // means a DELETE/UPDATE rewrote rows it has consumed — incremental
    // reading cannot express that, so fail loudly instead of silently
    // re-delivering rewritten rows alongside the stale ones.
    vs.filter(_ > sinceVersion).foldLeft(Set.empty[String]) { (acc, v) =>
      entryActions(fs, root, v).foldLeft(acc) { (a, act) =>
        if (act.isDv)
          // a deletion vector deletes rows in place — whether the target
          // was consumed already or sits in this range, the raw file the
          // consumer would read now over-delivers; incremental reading
          // cannot express row-level deletes
          throw new IllegalStateException(
            s"changesSinceVersion=$sinceVersion: version $v under $root attaches " +
              s"a deletion vector to '${act.path}' — rows were deleted in place; " +
              "a full refresh is required")
        else if (act.add) a + act.path
        else if (a.contains(act.path)) a - act.path
        else throw new IllegalStateException(
          s"changesSinceVersion=$sinceVersion: version $v under $root removes " +
            s"'${act.path}', which was committed at or before the checkpoint — " +
            "the table was rewritten by DELETE/UPDATE; a full refresh is required")
      }
    }
  }

  /** One entry's root-relative ADD list, in committed order. Consumers of
    * this method tail APPEND-ONLY history (followLog streaming): an entry
    * carrying removes fails loudly — a stream cannot un-deliver rows.
    */
  def entryFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Seq[String] =
    appendOnlyFiles(entryActions(fs, root, version), root, version)

  /** The entry's added files, refusing loudly when the entry carries any
    * non-add action — the followLog append-only contract.
    */
  def appendOnlyFiles(acts: Seq[LogAction], root: Path,
      version: Long): Seq[String] = {
    acts.find(!_.add).foreach { a =>
      val what = if (a.isDv) "attaches a deletion vector to" else "removes"
      throw new IllegalStateException(
        s"commit-log entry $version under $root $what '${a.path}' — the table " +
          "was rewritten by DELETE/UPDATE; followLog tails append-only history " +
          "(restart the stream from a fresh checkpoint to re-snapshot)")
    }
    acts.map(_.path)
  }

  /** Slurp one log-dir file's non-empty lines (throws on I/O failure —
    * callers decide strict vs lenient).
    */
  private def slurpLines(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[String] = {
    val in = fs.open(p)
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty)
  }

  /** One entry's raw lines (header first). */
  private def entryLines(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): (Path, Seq[String]) = {
    val p = new Path(logDir(root), f"$version%020d")
    (p, slurpLines(fs, p))
  }

  /** One entry's actions, in committed order (v1 = adds only; v2 may
    * interleave removes; v3 may additionally carry one schema line,
    * which is not an action).
    */
  def entryActions(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Seq[LogAction] = {
    val (p, lines) = entryLines(fs, root, version)
    parseActions(p, lines)
  }

  /** Retry `read` while it trips on a state a CONCURRENT writer exposes
    * transiently (selected by `retriable`), up to `graceMs`; past the
    * grace the truth rethrows. A commit is one buffered write from
    * complete, so anything that stays broken is a crashed writer or real
    * corruption — loud is right there.
    */
  private def retryInFlight[A](graceMs: Long)(retriable: Throwable => Boolean)(
      read: => A): A = {
    val deadline = System.nanoTime() + graceMs * 1000000L
    while (true) {
      try return read
      catch {
        case e: Throwable if retriable(e) && System.nanoTime() < deadline =>
          Thread.sleep(20L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The transient read states a CONCURRENT writer's body write exposes:
    * a detectably incomplete entry (empty claim, torn header/footer), or
    * torn IO on the file mid-write (ChecksumException from a lagging crc
    * stream, EOF mid-slurp). Deliberately NOT generic IOException:
    * a genuinely missing entry or an auth/connection failure should
    * surface immediately on these paths, not after the grace.
    */
  private def inFlightState(e: Throwable): Boolean =
    e.isInstanceOf[IncompleteCommitException] ||
      e.isInstanceOf[org.apache.hadoop.fs.ChecksumException] ||
      e.isInstanceOf[java.io.EOFException]

  /** [[entryActions]] waiting out an IN-FLIGHT competitor's entry: the
    * state a commit-time validation fold or a snapshot read racing a
    * writer observes. A state that persists past the grace (crashed
    * writer, real corruption) rethrows.
    */
  def entryActionsAwait(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long, graceMs: Long = 5000L): Seq[LogAction] =
    retryInFlight(graceMs)(inFlightState)(entryActions(fs, root, version))

  /** [[entryActions]] for a TAILING reader (followLog admission): a
    * continuously-polling stream can list a version whose entry is
    * claimed but whose body has not landed — on a plain filesystem the
    * put-if-absent create and the body write are two steps (an
    * object-store conditional put publishes both at once). Besides the
    * in-flight states [[entryActionsAwait]] rides out, a tail also
    * retries generic IOExceptions: the claim-cleanup window (a failed
    * writer deletes its claimed slot and the next committer re-claims
    * the same number — a FileNotFound the poll simply outwaits) and
    * whatever a store surfaces for reads racing its own publishes.
    */
  def entryActionsTailing(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long, graceMs: Long = 5000L): Seq[LogAction] =
    retryInFlight(graceMs)(e =>
      inFlightState(e) || e.isInstanceOf[java.io.IOException])(
      entryActions(fs, root, version))

  /** Newest commit-entry protocol this reader writes AND the newest it
    * can read; `graft-checkpoint` and `graft-dv` carry their own ceilings.
    */
  val MaxProtocolVersion = 8
  val MaxCheckpointVersion = 4
  val MaxDvVersion = 2

  /** A commit-entry header's protocol version; 0 = not a known
    * graft-commit header (unknown versions stay 0 on purpose — a reader
    * must fail loudly on a protocol it does not speak, never misread it).
    */
  private def headerVersion(lines: Seq[String]): Int = lines.headOption match {
    case Some(h) if h.startsWith("graft-commit v") =>
      val v = try h.substring("graft-commit v".length).toInt
        catch { case _: NumberFormatException => 0 }
      if (v >= 1 && v <= MaxProtocolVersion) v else 0
    case _ => 0
  }

  /** The version a well-formed `graft-commit v<digits>` header DECLARES,
    * supported or not — the min-reader diagnostic's input ([[headerVersion]]
    * deliberately folds unsupported to 0; this distinguishes "protocol
    * newer than this reader" from "corrupt file").
    */
  private val declaredHeaderRe = """^graft-commit v(\d{1,9})$""".r
  private def declaredVersion(first: String): Option[Int] = first match {
    case declaredHeaderRe(d) => Some(d.toInt)
    case _ => None
  }

  private def parseActions(p: Path, lines: Seq[String]): Seq[LogAction] = {
    // an EMPTY entry file is the put-if-absent claim of an in-flight (or
    // crashed) commit — the body write has not landed yet. Distinct from
    // malformed: tailing readers retry it, batch folds report it exactly.
    if (lines.isEmpty) throw new IncompleteCommitException(
      s"commit-log entry $p is empty — an in-flight commit's claimed slot " +
        "(or a crashed writer's remainder)")
    val hv = headerVersion(lines)
    // a first line that is a strict PREFIX of the current header is a
    // read torn mid-header (the writer's first buffered bytes), not a
    // foreign format — transient, like the empty-claim state above
    if (hv == 0 && "graft-commit v7".startsWith(lines.head))
      throw new IncompleteCommitException(
        s"commit-log entry $p is torn mid-header — an in-flight commit or " +
          "a crashed writer's remainder")
    // a WELL-FORMED header declaring a NEWER protocol is not corruption —
    // the reader is too old (Delta min-reader shape): say so, so the fix
    // ("upgrade graft") is legible and nobody "restores" a healthy table
    if (hv == 0) declaredVersion(lines.head).filter(_ > MaxProtocolVersion)
      .foreach { dv =>
        throw new ProtocolTooNewException(
          s"commit-log entry $p uses protocol v$dv > max supported " +
            s"v$MaxProtocolVersion — this reader is too old for the table; " +
            "upgrade graft to read it (the entry is not corrupt)")
      }
    require(hv >= 1, s"malformed commit-log entry $p")
    // v7 entries TERMINATE with `e <actionCount>`: a torn prefix (a
    // tailing reader racing the body write, or a crashed writer) is
    // detectably incomplete — without the footer, a tear at a line
    // boundary would parse as a valid smaller commit and silently drop
    // files from the version
    val body =
      if (hv < 7) lines.tail
      else lines.last match {
        case f if f.startsWith("e ") => lines.tail.init
        case _ => throw new IncompleteCommitException(
          s"commit-log entry $p has no terminating footer — an in-flight " +
            "commit (the body write has not completed) or a crashed " +
            "writer's torn remainder")
      }
    val acts = body.flatMap { l =>
      if (l.startsWith("f ")) Some(LogAction('f', l.substring(2)))
      else if (hv >= 2 && l.startsWith("r ")) Some(LogAction('r', l.substring(2)))
      else if (hv >= 4 && l.startsWith("d ")) {
        // `d <artifact> <path>`: artifact names are writer-generated and
        // space-free; the path is everything after the first space
        val rest = l.substring(2)
        val sp = rest.indexOf(' ')
        if (sp <= 0)
          throw new IllegalArgumentException(s"malformed commit-log line in $p: $l")
        Some(LogAction('d', rest.substring(sp + 1), rest.substring(0, sp)))
      } else if (hv >= 3 && l.startsWith("s ")) None
      else if (hv >= 5 && l.startsWith("t ")) None // commit-time line, not an action
      else if (hv >= 6 && l.startsWith("o ")) None // operation tag, not an action
      else if (hv >= 8 && l.startsWith("c ")) None // change-data file, not an action
      else throw new IllegalArgumentException(s"malformed commit-log line in $p: $l")
    }
    if (hv >= 7) {
      // a tear INSIDE the footer line truncates its digits, so the seen
      // count is a decimal prefix of the true one — always SMALLER (or
      // unparsable). declared < acts therefore classifies incomplete
      // (retriable within the grace; persists -> loud); declared > acts
      // cannot come from a tear and is instant corruption.
      val declared = try lines.last.split(' ')(1).toLong
        catch { case _: NumberFormatException | _: ArrayIndexOutOfBoundsException =>
          throw new IncompleteCommitException(
            s"commit-log entry $p has an unparsable footer " +
              s"'${lines.last}' — a read torn mid-footer") }
      if (declared < acts.length)
        throw new IncompleteCommitException(
          s"commit-log entry $p declares $declared actions but carries " +
            s"${acts.length} — a read torn mid-footer")
      require(declared == acts.length,
        s"commit-log entry $p declares $declared actions but carries " +
          s"${acts.length} — corrupt entry")
      // footer token 3 (MANDATORY on v7): CRC32 of the body bytes — the
      // in-line bit-rot check (count equality proves nothing about the
      // bytes inside an intact-length line). A missing or shortened crc
      // token is a tear (the token is last on the last line).
      val toks = lines.last.split(' ')
      if (toks.length < 3)
        throw new IncompleteCommitException(
          s"commit-log entry $p has no footer checksum — a read torn " +
            "mid-footer")
      val expect = footerFor(lines.init, declared)
      if (lines.last != expect) {
        // a tear INSIDE the crc token reads as a strict prefix of the
        // true footer — incomplete, not corrupt
        if (expect.startsWith(lines.last))
          throw new IncompleteCommitException(
            s"commit-log entry $p has a truncated footer checksum — " +
              "a read torn mid-footer")
        throw new IllegalArgumentException(
          s"commit-log entry $p fails its footer checksum " +
            s"('${lines.last}' vs recomputed '$expect') — corrupt entry")
      }
    }
    acts
  }

  /** The v7 terminating footer for `bodyLines` (header + metadata +
    * action lines, no trailing newline semantics — the footer hashes the
    * exact newline-joined body bytes the writer emits).
    */
  private[spark] def footerFor(bodyLines: Seq[String], nActions: Long): String = {
    val crc = new java.util.zip.CRC32()
    crc.update(bodyLines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"e $nActions%d ${crc.getValue}%08x"
  }

  /** One slurp serving DESCRIBE HISTORY: (actions, operation tag,
    * schema-line present) — entryActions + entryOp + entrySchema would
    * read the same entry three times, which matters on object stores
    * where per-read latency dominates a long-history walk.
    */
  def entrySummary(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): (Seq[LogAction], Option[String], Boolean) =
    // await-variant read: DESCRIBE HISTORY racing a committer can list
    // its in-flight entry — wait the transient out like the folds do
    retryInFlight(5000L)(inFlightState) {
      val (p, lines) = entryLines(fs, root, version)
      val op =
        if (headerVersion(lines) < 6) None
        else lines.tail.find(_.startsWith("o ")).map(_.substring(2).trim)
      (parseActions(p, lines), op, lines.tail.exists(_.startsWith("s ")))
    }

  /** Directory holding change-data files (Delta's `_change_data` shape):
    * dot-prefixed, so raw listings and vacuum walks never see them as
    * data.
    */
  def cdcDir(root: Path): Path = new Path(root, ".graft-cdc")

  /** The entry's recorded CHANGE-DATA files (`c <changeType> <name>`
    * lines, v8) — (change type, file name under `.graft-cdc/`) pairs
    * holding the commit's row-level pre/post images; each file carries
    * ONE change type (the writer partitions by it), so batch and
    * streaming readers stamp the type as a constant. STRICT read (unlike
    * [[entryOp]]): a change-feed reader substitutes these for the
    * refused COW rewrite, so failing to read them must be loud, never an
    * empty feed.
    */
  def entryChangeFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Seq[(String, String)] = {
    val (p, lines) = entryLines(fs, root, version)
    if (headerVersion(lines) < 8) Nil
    else lines.tail.filter(_.startsWith("c ")).map { l =>
      val rest = l.substring(2)
      val sp = rest.indexOf(' ')
      require(sp > 0, s"malformed change-data line in $p: $l")
      (rest.substring(0, sp), rest.substring(sp + 1))
    }
  }

  /** The entry's OPERATION tag (`o` line, v6) — currently "restore
    * <targetVersion>". None for untagged/older entries. Lenient like
    * [[entrySchema]]: the tag informs change-feed legality rails, never
    * the state fold itself.
    */
  def entryOp(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[String] = try {
    val (_, lines) = entryLines(fs, root, version)
    if (headerVersion(lines) < 6) None
    else lines.tail.find(_.startsWith("o ")).map(_.substring(2).trim)
  } catch { case _: Exception => None }

  /** One entry's RAW recorded commit-time millis (`t` line, v5); None for
    * older entries — callers fall back to the entry file's mtime. Lenient
    * like [[entrySchema]]: timestamps are resolution metadata.
    */
  def entryTimestamp(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[Long] = try {
    val (_, lines) = entryLines(fs, root, version)
    if (headerVersion(lines) < 5) None
    else lines.tail.find(_.startsWith("t "))
      .flatMap(l => scala.util.Try(l.substring(2).trim.toLong).toOption)
  } catch { case _: Exception => None }

  /** Every KNOWN version paired with its RESOLVED commit time, ascending:
    * raw per-version times (v5 `t` lines; covering-checkpoint `t` for an
    * expired prefix's boundary; entry-file mtime for pre-v5 legacy
    * entries) clamped MONOTONIC — a later version never resolves earlier
    * than its predecessor (the Delta InCommitTimestamp discipline), so a
    * skewed writer clock can never reorder history. The expired prefix
    * itself has no resolvable times (its entries are gone).
    */
  def resolvedTimestamps(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(Long, Long)] = {
    val vs = versions(fs, root)
    if (vs.isEmpty) return Nil
    // the covering checkpoint (if the prefix was expired) anchors the walk
    val anchor: Option[(Long, Long)] =
      if (vs.min == 0L) None
      else checkpointVersions(fs, root).filter(_ < vs.min)
        .sorted(Ordering[Long].reverse).iterator
        .flatMap(cv => readCheckpointTimestamp(fs, root, cv).map((cv, _)))
        .nextOption()
    walkTimestamps(fs, root, vs, anchor, Long.MaxValue)
  }

  /** The clamped walk over `vs` entries in `(anchor.version, upTo]`,
    * seeded at the anchor's resolved time. A `t`-carrying checkpoint's
    * recorded value IS the full walk's resolved value at its version (it
    * was computed by this same walk when written), so anchoring at one
    * reproduces the suffix exactly — the piece that keeps timestamp
    * resolution O(suffix since the last checkpoint), not O(#commits).
    */
  private def walkTimestamps(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      vs: Seq[Long], anchor: Option[(Long, Long)],
      upTo: Long): Seq[(Long, Long)] = {
    val ckVs = checkpointVersions(fs, root).toSet
    val afterV = anchor.map(_._1).getOrElse(Long.MinValue)
    var prev = anchor.map(_._2).getOrElse(Long.MinValue)
    val out = Seq.newBuilder[(Long, Long)]
    anchor.foreach(out += _)
    vs.foreach { v =>
      if (v > afterV && v <= upTo) {
        val raw = entryTimestamp(fs, root, v)
          .orElse(if (ckVs.contains(v)) readCheckpointTimestamp(fs, root, v)
                  else None)
          .getOrElse {
            try fs.getFileStatus(new Path(logDir(root), f"$v%020d")).getModificationTime
            catch { case _: Exception => prev.max(0L) }
          }
        val clamped = if (prev == Long.MinValue) raw else math.max(raw, prev + 1)
        out += ((v, clamped))
        prev = clamped
      }
    }
    out.result()
  }

  /** One version's resolved commit time, walking only the suffix since
    * the newest `t`-carrying checkpoint at or below it — the
    * checkpoint-write path (O(checkpoint interval), not O(#commits)).
    */
  def resolvedTimestampAt(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Long = {
    val vs = versions(fs, root)
    val anchor = checkpointVersions(fs, root).filter(_ < version)
      .sorted(Ordering[Long].reverse).iterator
      .flatMap(cv => readCheckpointTimestamp(fs, root, cv).map((cv, _)))
      .nextOption()
    walkTimestamps(fs, root, vs, anchor, version).toMap.apply(version)
  }

  /** Resolve `option("timestampAsOf", millis)`: the LATEST version whose
    * resolved commit time is ≤ `millis`. Loud on both out-of-range ends —
    * before the earliest resolvable commit (distinguishing expired
    * history from "before the table existed") and after the latest (the
    * Delta contract: the caller's clock may simply be ahead; pin a
    * version instead of guessing).
    */
  def versionForTimestamp(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      millis: Long): Long = {
    // BOUNDED resolution: anchor at the newest checkpoint whose recorded
    // commit time is ≤ the target and walk only the suffix — O(suffix
    // since that checkpoint) on the long-history tables this option will
    // actually meet. Timestamps before every anchor (or anchor-less
    // tables) fall back to the full walk.
    val vsAll = versions(fs, root)
    require(vsAll.nonEmpty,
      s"timestampAsOf=$millis: no graft commit log under $root " +
        "(only graft batch sinks write .graft-log)")
    val anchored: Option[Seq[(Long, Long)]] =
      checkpointVersions(fs, root).sorted(Ordering[Long].reverse).iterator
        .flatMap(cv => readCheckpointTimestamp(fs, root, cv).map((cv, _)))
        .find(_._2 <= millis)
        .map(a => walkTimestamps(fs, root, vsAll, Some(a), Long.MaxValue))
    val ts = anchored.getOrElse(resolvedTimestamps(fs, root))
    require(ts.nonEmpty,
      s"timestampAsOf=$millis: no graft commit log under $root " +
        "(only graft batch sinks write .graft-log)")
    val (firstV, firstT) = ts.head
    if (millis < firstT) {
      val vs = versions(fs, root)
      if (vs.min > 0L || firstV > 0L)
        throw new IllegalArgumentException(
          s"timestampAsOf=$millis: history before version $firstV " +
            s"(commit time $firstT) has been expired (expireLogHistory) — " +
            "earliest resolvable commit time is " + firstT)
      throw new IllegalArgumentException(
        s"timestampAsOf=$millis precedes the table's first commit " +
          s"(commit time $firstT)")
    }
    val (lastV, lastT) = ts.last
    if (millis > lastT)
      throw new IllegalArgumentException(
        s"timestampAsOf=$millis is after the latest commit (version $lastV, " +
          s"commit time $lastT) — a commit landing later could change what " +
          "that timestamp means; use versionAsOf/snapshot for 'latest'")
    ts.takeWhile(_._2 <= millis).last._1
  }

  /** One entry's recorded table schema, if it carries one (v3). Lenient:
    * schema lines are planning metadata, so an unparsable one degrades to
    * None (sampling inference), never a failed read.
    */
  def entrySchema(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[StructType] = try {
    val (_, lines) = entryLines(fs, root, version)
    if (headerVersion(lines) < 3) None
    else lines.tail.find(_.startsWith("s ")).flatMap(parseSchemaLine)
  } catch { case _: Exception => None }

  /** The recorded table schema as of `version`: the newest `s` line at or
    * below it. Every schema-tracking batch commit records one, so the scan
    * normally stops at the first entry; it is bounded below by the newest
    * checkpoint ≤ version (whose own schema line covers the prefix — a
    * table with no schema lines in that suffix predates schema tracking).
    * None = untracked (callers fall back to sampling inference).
    */
  def schemaAsOf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[StructType] =
    schemaAsOf(new LogListing(fs, root), version)

  /** [[schemaAsOf]] over a listing the caller already holds. */
  def schemaAsOf(log: LogListing, version: Long): Option[StructType] = try {
    schemaAsOfStrict(log, version)
  } catch { case _: Exception => None }

  /** [[schemaAsOf]] with IO failures PROPAGATED — the commit path's
    * variant: schema-evolution enforcement must never silently degrade to
    * "untracked" on a transient log-read blip (the append would land its
    * data with no schema record, and later recorded-schema reads would
    * parse the widened values under the stale narrower type). Unparsable
    * schema LINES still degrade per-artifact (format leniency, not IO
    * leniency); raw-entry read failures throw.
    */
  def schemaAsOfStrict(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Option[StructType] =
    schemaAsOfStrict(new LogListing(fs, root), version)

  /** [[schemaAsOfStrict]] over a listing the caller already holds. */
  def schemaAsOfStrict(log: LogListing, version: Long): Option[StructType] = {
    val (fs, root) = (log.fs, log.root)
    val rawVs = log.versions.filter(_ <= version).toSet
    if (rawVs.isEmpty) return None
    val ckVs = log.checkpoints.filter(_ <= version).toSet
    // ONE descending walk over raw-entry AND checkpoint versions merged:
    // the newest recorded schema wins regardless of which artifact holds
    // it (a stale older checkpoint must never shadow a newer surviving
    // `s` entry; a corrupt checkpoint falls through to whatever is next).
    // The common case stops at the newest entry — every schema-tracking
    // batch commit records a line — and the walk is BOUNDED by the newest
    // readable v2+ checkpoint: writeCheckpoint records the schema as of
    // its version STRICTLY, so a readable schema-capable checkpoint with
    // no `s` line proves nothing older has one (an untracked 40k-commit
    // streaming history must not cost 40k reads per planning pass).
    val merged = (rawVs ++ ckVs).toSeq.sorted(Ordering[Long].reverse)
    val it = merged.iterator
    while (it.hasNext) {
      val v = it.next()
      if (rawVs.contains(v)) {
        // wait out an in-flight competitor's entry instead of aborting
        // the commit that is validating against it
        val s = retryInFlight(5000L)(inFlightState)(
          entrySchemaStrict(fs, root, v))
        if (s.isDefined) return s
      }
      if (ckVs.contains(v)) checkpointSchemaSignal(fs, root, v) match {
        case Some(found) => return found // readable v2+: schema or PROOF of none
        case None => () // v1 / unreadable: keep walking
      }
    }
    None
  }

  /** Three-state checkpoint schema probe: Some(Some(st)) = carries one;
    * Some(None) = readable V4 checkpoint WITHOUT one — PROOF no schema
    * was recorded at or below its version (only v4 checkpoints are
    * written with the strict schema read; a legacy v2/v3 one could have
    * silently dropped its `s` line on an IO blip, so its absence proves
    * nothing); None = pre-v4 without a schema line, or unreadable — no
    * information, keep walking.
    */
  private def checkpointSchemaSignal(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, version: Long): Option[Option[StructType]] = try {
    val p = checkpointFile(root, version)
    if (!fs.exists(p)) return None
    val lines = slurpLines(fs, p)
    checkCheckpointCeiling(p, lines)
    val v4 = lines.headOption.contains("graft-checkpoint v4")
    if (!v4 && !lines.headOption.exists(h =>
        h == "graft-checkpoint v2" || h == "graft-checkpoint v3")) None
    else lines.tail.find(_.startsWith("s ")).flatMap(parseSchemaLine) match {
      case Some(st) => Some(Some(st))
      case None => if (v4) Some(None) else None
    }
  } catch {
    case e: ProtocolTooNewException => throw e
    case _: Exception => None
  }

  /** [[entrySchema]] but propagating IO failures (strict read, lenient
    * parse) — see [[schemaAsOfStrict]]. Also strict about COMPLETENESS:
    * an in-flight v7 entry (no footer yet) must raise, not read as "no
    * schema line here" — the walk would silently take an OLDER schema
    * and the commit-time conflict policy would compare against a stale
    * base.
    */
  private def entrySchemaStrict(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, version: Long): Option[StructType] = {
    val (p, lines) = entryLines(fs, root, version)
    if (lines.isEmpty || (headerVersion(lines) == 0 &&
        "graft-commit v7".startsWith(lines.head)))
      throw new IncompleteCommitException(
        s"commit-log entry $p is in-flight (empty or torn header)")
    // strict = writer-side conflict detection: silently treating a
    // newer-protocol entry as "no schema" would compare against a stale
    // base — raise the upgrade-shaped error instead
    if (headerVersion(lines) == 0)
      declaredVersion(lines.head).filter(_ > MaxProtocolVersion).foreach { dv =>
        throw new ProtocolTooNewException(
          s"commit-log entry $p uses protocol v$dv > max supported " +
            s"v$MaxProtocolVersion — this writer is too old for the table; " +
            "upgrade graft (the entry is not corrupt)")
      }
    if (headerVersion(lines) >= 7 && !lines.last.startsWith("e "))
      throw new IncompleteCommitException(
        s"commit-log entry $p is in-flight (no terminating footer yet)")
    if (headerVersion(lines) < 3) None
    else lines.tail.find(_.startsWith("s ")).flatMap(parseSchemaLine)
  }
}

/** `format("graft-json")` rows: one JSON object per line. */
final case class JsonEncoding(codec: String) extends RowEncoding {
  val ext: String = GraftSink.textExt("jsonl", codec, "graft-json")

  // nonFiniteAsNull: this encoder serializes NaN/±Inf as JSON null — the
  // stats must describe the file, not the in-memory rows
  override def open(out: org.apache.hadoop.fs.FSDataOutputStream, dataSchema: StructType,
      blockBytes: Long): RowEncoder =
    new TextEncoder(out, codec, dataSchema, blockBytes, nonFiniteAsNull = true) {
      override protected def render(row: InternalRow): Unit = {
        JsonEncoding.writeStruct(sb, row, dataSchema)
        sb.append('\n')
      }
    }
}

object JsonEncoding {

  def writeStruct(sb: java.lang.StringBuilder, row: InternalRow, st: StructType): Unit = {
    sb.append('{')
    var first = true
    var i = 0
    while (i < st.length) {
      if (!row.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        writeString(sb, st(i).name)
        sb.append(':')
        writeValue(sb, row.get(i, st(i).dataType), st(i).dataType)
      }
      i += 1
    }
    sb.append('}')
  }

  private def writeValue(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit = dt match {
    case _ if v == null  => sb.append("null")
    case StringType      => writeString(sb, v.toString)
    case LongType | IntegerType | ShortType | ByteType | BooleanType =>
      sb.append(v.toString)
    case DoubleType | FloatType =>
      val d = v match { case f: java.lang.Float => f.doubleValue; case x => x.asInstanceOf[Double] }
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) sb.append("null")
      else sb.append(d.toString)
    case d: DecimalType =>
      sb.append(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.toPlainString)
    case s: StructType =>
      writeStruct(sb, v.asInstanceOf[InternalRow], s)
    case a: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      sb.append('[')
      var i = 0
      while (i < arr.numElements()) {
        if (i > 0) sb.append(',')
        if (arr.isNullAt(i)) sb.append("null")
        else writeValue(sb, arr.get(i, a.elementType), a.elementType)
        i += 1
      }
      sb.append(']')
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      sb.append('{')
      val ks = md.keyArray()
      val vs = md.valueArray()
      var i = 0
      while (i < md.numElements()) {
        if (i > 0) sb.append(',')
        writeString(sb, ks.get(i, m.keyType).toString)
        sb.append(':')
        if (vs.isNullAt(i)) sb.append("null")
        else writeValue(sb, vs.get(i, m.valueType), m.valueType)
        i += 1
      }
      sb.append('}')
    case TimestampType | TimestampNTZType | DateType =>
      writeString(sb, GraftSink.temporalString(v, dt))
    case BinaryType => // base64, the spark.read/write.json convention
      writeString(sb,
        java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    case _ => writeString(sb, v.toString) // exotic scalars: text form
  }

  def writeString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case _ =>
          if (c < 0x20) sb.append(f"\\u${c.toInt}%04x")
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

/** `format("graft-csv")` rows: flat schemas only (CSV has no nesting), a
  * header row per file, quote-doubling when a value contains the
  * delimiter, a quote, or a row-delimiter byte — the same dialect the
  * graft-csv reader and its Config parse.
  */
final case class CsvEncoding(codec: String, header: Boolean, delim: String, linesep: String)
    extends RowEncoding {
  val ext: String = GraftSink.textExt("csv", codec, "graft-csv")

  override def checkSchema(schema: StructType): Unit = schema.fields.foreach { f =>
    f.dataType match {
      case _: StructType | _: ArrayType | _: MapType =>
        throw new IllegalArgumentException(
          s"graft-csv cannot write nested column '${f.name}: ${f.dataType.simpleString}' " +
          "(serialize it to a string or use graft-json)")
      case BinaryType =>
        throw new IllegalArgumentException(
          s"graft-csv cannot write binary column '${f.name}' " +
          "(base64-encode it to a string, or use graft-json which does so automatically)")
      case _ => ()
    }
  }

  // emptyStringsAsNull: this dialect's reader parses empty cells as NULL,
  // and empty strings write as empty cells — stats must agree
  override def open(out: org.apache.hadoop.fs.FSDataOutputStream, dataSchema: StructType,
      blockBytes: Long): RowEncoder =
    new TextEncoder(out, codec, dataSchema, blockBytes, emptyStringsAsNull = true) {
      private val mustQuote: Set[Char] = (delim.toSet ++ linesep.toSet) + '"'

      private def appendCell(s: String): Unit = {
        if (s.exists(mustQuote)) {
          sb.append('"')
          var i = 0
          while (i < s.length) {
            val c = s.charAt(i)
            if (c == '"') sb.append("\"\"") else sb.append(c)
            i += 1
          }
          sb.append('"')
        } else sb.append(s)
      }

      if (header) {
        var i = 0
        while (i < dataSchema.length) {
          if (i > 0) sb.append(delim)
          appendCell(dataSchema.fields(i).name)
          i += 1
        }
        sb.append(linesep)
        stats.noteBytes(emit()) // block 0 includes the header bytes
      }

      override protected def render(row: InternalRow): Unit = {
        var i = 0
        while (i < dataSchema.length) {
          if (i > 0) sb.append(delim)
          if (!row.isNullAt(i)) {
            val dt = dataSchema.fields(i).dataType
            dt match {
              case StringType => appendCell(row.getUTF8String(i).toString)
              case LongType => sb.append(row.getLong(i))
              case IntegerType => sb.append(row.getInt(i))
              case DoubleType => sb.append(row.getDouble(i))
              case FloatType => sb.append(row.getFloat(i))
              case BooleanType => sb.append(row.getBoolean(i))
              case ShortType => sb.append(row.getShort(i))
              case ByteType => sb.append(row.getByte(i))
              case TimestampType | TimestampNTZType | DateType =>
                appendCell(GraftSink.temporalString(row.get(i, dt), dt))
              case _ => appendCell(row.get(i, dt).toString)
            }
          }
          i += 1
        }
        sb.append(linesep)
      }
    }
}
