package graft.spark

import org.apache.avro.{LogicalTypes, Schema => ASchema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/** Avro container-file lane: `spark.read.format("graft-avro")` /
  * `df.write.format("graft-avro")`.
  *
  * Avro is the row-interchange format the JSON/CSV lanes are not: schema
  * travels in the file header, blocks are compressed independently, and
  * 16-byte sync markers make container files byte-range SPLITTABLE — the
  * properties a 100 TB ingest bus needs. Scale design:
  *
  *  - files split into `maxsplitbytes` ranges (default 32 MiB); each task
  *    realigns to the next sync marker (`DataFileReader.sync`) and reads
  *    until `pastSync(end)` — the standard Avro split protocol, so one
  *    large file parallelizes across a cluster exactly like parquet.
  *  - Catalyst column pruning is pushed as the Avro READER schema: schema
  *    resolution skips non-projected writer fields at the decoder level
  *    (`GenericDatumReader` skip paths), never materializing them.
  *  - COUNT(*) with no filters is answered from block headers alone
  *    (`nextBlock()` + `getBlockCount()`): object counts are stored per
  *    block, so the count never decompresses or decodes a single datum.
  *  - the scan is the text lanes' own [[GraftScan]] (through
  *    `GraftFormat.Avro`), so their acceleration surface applies:
  *    file-level stats/bloom pruning, runtime (DPP) file pruning,
  *    sync-edge BLOCK recording (split parallelism with exact ordinals
  *    for masked/row-indexed files + intra-file block skipping),
  *    parse-folded aggregate batteries with sidecar metadata answers,
  *    LIMIT/TopN/OFFSET pushdown, and reported per-partition ordering
  *    from the sorted sidecar flag.
  *  - the writer emits one container file per task with a deterministic
  *    task-unique name; `codec` option selects null/deflate/snappy/zstd
  *    block compression.
  *
  * The reference has no Avro surface (its parsers are JSON/CSV only,
  * reference core/Parser.scala); this lane is part of the beyond-reference
  * interchange triad (ORC via Spark's native source — q137 — parquet
  * native, Avro here).
  */
object GraftAvro {

  // ------------------------------------------------------------- schema map

  /** Spark → Avro schema. Nullable fields become union[null, T] (null
    * first, Avro's convention for default-null). Names must be valid Avro
    * identifiers — Spark column names in our surface already are.
    */
  def toAvroSchema(st: StructType, recordName: String = "graft_record"): ASchema = {
    val fields = new java.util.ArrayList[ASchema.Field](st.length)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val t = toAvroType(f.dataType, f.nullable, s"${recordName}_f$i")
      val fld =
        if (f.nullable)
          new ASchema.Field(f.name, t, null, ASchema.Field.NULL_DEFAULT_VALUE)
        else new ASchema.Field(f.name, t, null)
      fields.add(fld)
    }
    ASchema.createRecord(recordName, null, "graft", false, fields)
  }

  private def toAvroType(dt: DataType, nullable: Boolean, nestName: String): ASchema = {
    val base = dt match {
      case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
      case ByteType | ShortType | IntegerType => ASchema.create(ASchema.Type.INT)
      case LongType => ASchema.create(ASchema.Type.LONG)
      case FloatType => ASchema.create(ASchema.Type.FLOAT)
      case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
      case StringType => ASchema.create(ASchema.Type.STRING)
      case BinaryType => ASchema.create(ASchema.Type.BYTES)
      case DateType =>
        LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case TimestampNTZType =>
        LogicalTypes.localTimestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case d: DecimalType =>
        LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(ASchema.create(ASchema.Type.BYTES))
      case ArrayType(et, containsNull) =>
        ASchema.createArray(toAvroType(et, containsNull, nestName + "_item"))
      case MapType(StringType, vt, valueContainsNull) =>
        ASchema.createMap(toAvroType(vt, valueContainsNull, nestName + "_value"))
      case st: StructType => toAvroSchema(st, nestName)
      case other => throw new IllegalArgumentException(
        s"graft-avro: unsupported Spark type $other")
    }
    if (nullable) ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
    else base
  }

  /** Avro → Spark schema (for reading externally-written files too):
    * union[null, T] → nullable T; enum/fixed → string/binary; logical
    * date/timestamp honored; other unions unsupported.
    */
  def toSparkType(s: ASchema): (DataType, Boolean) = s.getType match {
    case ASchema.Type.UNION =>
      val ts = s.getTypes.asScala
      val nonNull = ts.filter(_.getType != ASchema.Type.NULL)
      require(nonNull.size == 1,
        s"graft-avro: only union[null, T] supported, got $s")
      val (dt, _) = toSparkType(nonNull.head)
      (dt, ts.size > nonNull.size)
    case ASchema.Type.BOOLEAN => (BooleanType, false)
    case ASchema.Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) (DateType, false)
      else (IntegerType, false)
    case ASchema.Type.LONG => s.getLogicalType match {
      case _: LogicalTypes.TimestampMicros => (TimestampType, false)
      case _: LogicalTypes.TimestampMillis => (TimestampType, false)
      case _: LogicalTypes.LocalTimestampMicros => (TimestampNTZType, false)
      case _ => (LongType, false)
    }
    case ASchema.Type.FLOAT => (FloatType, false)
    case ASchema.Type.DOUBLE => (DoubleType, false)
    case ASchema.Type.STRING | ASchema.Type.ENUM => (StringType, false)
    case ASchema.Type.BYTES => s.getLogicalType match {
      case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case ASchema.Type.FIXED => s.getLogicalType match {
      case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case ASchema.Type.ARRAY =>
      val (et, n) = toSparkType(s.getElementType)
      (ArrayType(et, n), false)
    case ASchema.Type.MAP =>
      val (vt, n) = toSparkType(s.getValueType)
      (MapType(StringType, vt, n), false)
    case ASchema.Type.RECORD =>
      val fs = s.getFields.asScala.map { f =>
        val (dt, n) = toSparkType(f.schema())
        StructField(f.name(), dt, n)
      }
      (StructType(fs.toSeq), false)
    case other => throw new IllegalArgumentException(
      s"graft-avro: unsupported Avro type $other")
  }

  def toSparkSchema(s: ASchema): StructType =
    toSparkType(s)._1.asInstanceOf[StructType]

  /** Reader schema for a pruned projection: the required columns, typed
    * from the WRITER schema (so resolution is exact), in projection order.
    * Fields absent from the writer schema are not permitted (the table
    * schema came from the same header).
    */
  def prunedReaderSchema(writer: ASchema, required: StructType): ASchema = {
    val fields = new java.util.ArrayList[ASchema.Field](required.length)
    required.fieldNames.foreach { n =>
      val wf = writer.getField(n)
      require(wf != null, s"graft-avro: column '$n' not in writer schema")
      val fld =
        if (wf.schema().getType == ASchema.Type.UNION &&
            wf.schema().getTypes.asScala.exists(_.getType == ASchema.Type.NULL))
          new ASchema.Field(n, wf.schema(), null, ASchema.Field.NULL_DEFAULT_VALUE)
        else new ASchema.Field(n, wf.schema(), null)
      fields.add(fld)
    }
    ASchema.createRecord(writer.getName, null, writer.getNamespace, false, fields)
  }

  // --------------------------------------------------------- read converters

  /** Precompiled Avro-datum → Spark-internal converter (one lambda per
    * column, resolved once per task — no per-value type dispatch).
    */
  type Conv = AnyRef => Any

  def readerConv(dt: DataType): Conv = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType => identity[AnyRef]
    case ByteType => v => v.asInstanceOf[java.lang.Integer].byteValue()
    case ShortType => v => v.asInstanceOf[java.lang.Integer].shortValue()
    case DateType => identity[AnyRef] // int days, Spark-internal already
    case TimestampType | TimestampNTZType => identity[AnyRef] // long micros
    case StringType => {
      case u: org.apache.avro.util.Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
      case e: GenericData.EnumSymbol => UTF8String.fromString(e.toString)
      case s => UTF8String.fromString(s.toString)
    }
    case BinaryType => {
      case bb: ByteBuffer =>
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
      case f: GenericData.Fixed => f.bytes()
      case a => a.asInstanceOf[Array[Byte]]
    }
    case d: DecimalType => {
      case bb: ByteBuffer =>
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out)
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(out), d.scale), d.precision, d.scale)
      case f: GenericData.Fixed =>
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(f.bytes()), d.scale), d.precision, d.scale)
    }
    case ArrayType(et, _) =>
      val ec = readerConv(et)
      v => {
        val l = v.asInstanceOf[java.util.List[AnyRef]]
        val out = new Array[Any](l.size())
        var i = 0
        while (i < out.length) { val e = l.get(i); out(i) = if (e == null) null else ec(e); i += 1 }
        new GenericArrayData(out)
      }
    case MapType(StringType, vt, _) =>
      val vc = readerConv(vt)
      v => {
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val ks = new Array[Any](m.size()); val vs = new Array[Any](m.size())
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          ks(i) = UTF8String.fromString(e.getKey.toString)
          vs(i) = if (e.getValue == null) null else vc(e.getValue)
          i += 1
        }
        ArrayBasedMapData(ks, vs)
      }
    case st: StructType =>
      val convs = st.fields.map(f => readerConv(f.dataType))
      v => {
        val r = v.asInstanceOf[GenericRecord]
        val out = new GenericInternalRow(convs.length)
        var i = 0
        while (i < convs.length) {
          val x = r.get(i)
          out.update(i, if (x == null) null else convs(i)(x))
          i += 1
        }
        out
      }
    case other => throw new IllegalArgumentException(s"graft-avro read: $other")
  }

  // -------------------------------------------------------- write converters

  /** Spark-internal → Avro-datum converter per column. */
  type WConv = (InternalRow, Int) => AnyRef

  def writerConv(dt: DataType, avro: ASchema): WConv = {
    val nonNull =
      if (avro.getType == ASchema.Type.UNION)
        avro.getTypes.asScala.find(_.getType != ASchema.Type.NULL).get
      else avro
    dt match {
      case BooleanType => (r, i) => java.lang.Boolean.valueOf(r.getBoolean(i))
      case ByteType => (r, i) => java.lang.Integer.valueOf(r.getByte(i).toInt)
      case ShortType => (r, i) => java.lang.Integer.valueOf(r.getShort(i).toInt)
      case IntegerType | DateType => (r, i) => java.lang.Integer.valueOf(r.getInt(i))
      case LongType | TimestampType | TimestampNTZType =>
        (r, i) => java.lang.Long.valueOf(r.getLong(i))
      case FloatType => (r, i) => java.lang.Float.valueOf(r.getFloat(i))
      case DoubleType => (r, i) => java.lang.Double.valueOf(r.getDouble(i))
      case StringType => (r, i) => new org.apache.avro.util.Utf8(r.getUTF8String(i).getBytes)
      case BinaryType => (r, i) => ByteBuffer.wrap(r.getBinary(i))
      case d: DecimalType =>
        (r, i) => ByteBuffer.wrap(
          r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.unscaledValue().toByteArray)
      case ArrayType(et, _) =>
        val es = nonNull.getElementType
        val ec = elemConv(et, es)
        (r, i) => {
          val a = r.getArray(i)
          val out = new java.util.ArrayList[AnyRef](a.numElements())
          var j = 0
          while (j < a.numElements()) {
            out.add(if (a.isNullAt(j)) null else ec(a, j))
            j += 1
          }
          out
        }
      case MapType(StringType, vt, _) =>
        val vs = nonNull.getValueType
        val vc = elemConv(vt, vs)
        (r, i) => {
          val m = r.getMap(i)
          val out = new java.util.LinkedHashMap[AnyRef, AnyRef](m.numElements())
          val ks = m.keyArray(); val varr = m.valueArray()
          var j = 0
          while (j < m.numElements()) {
            out.put(new org.apache.avro.util.Utf8(ks.getUTF8String(j).getBytes),
              if (varr.isNullAt(j)) null else vc(varr, j))
            j += 1
          }
          out
        }
      case st: StructType =>
        val sub = st.fields.zipWithIndex.map { case (f, j) =>
          writerConv(f.dataType, nonNull.getFields.get(j).schema())
        }
        (r, i) => {
          val in = r.getStruct(i, st.length)
          val rec = new GenericData.Record(nonNull)
          var j = 0
          while (j < sub.length) {
            rec.put(j, if (in.isNullAt(j)) null else sub(j)(in, j))
            j += 1
          }
          rec
        }
      case other => throw new IllegalArgumentException(s"graft-avro write: $other")
    }
  }

  /** Element accessor over ArrayData (shares the scalar conversions). */
  private def elemConv(dt: DataType, avro: ASchema): (ArrayData, Int) => AnyRef = {
    val nonNull =
      if (avro.getType == ASchema.Type.UNION)
        avro.getTypes.asScala.find(_.getType != ASchema.Type.NULL).get
      else avro
    dt match {
      case BooleanType => (a, j) => java.lang.Boolean.valueOf(a.getBoolean(j))
      case IntegerType | DateType => (a, j) => java.lang.Integer.valueOf(a.getInt(j))
      case LongType | TimestampType | TimestampNTZType =>
        (a, j) => java.lang.Long.valueOf(a.getLong(j))
      case FloatType => (a, j) => java.lang.Float.valueOf(a.getFloat(j))
      case DoubleType => (a, j) => java.lang.Double.valueOf(a.getDouble(j))
      case StringType => (a, j) => new org.apache.avro.util.Utf8(a.getUTF8String(j).getBytes)
      case BinaryType => (a, j) => ByteBuffer.wrap(a.getBinary(j))
      case d: DecimalType =>
        (a, j) => ByteBuffer.wrap(
          a.getDecimal(j, d.precision, d.scale).toJavaBigDecimal.unscaledValue().toByteArray)
      case st: StructType =>
        val sub = st.fields.zipWithIndex.map { case (f, k) =>
          writerConv(f.dataType, nonNull.getFields.get(k).schema())
        }
        (a, j) => {
          val in = a.getStruct(j, st.length)
          val rec = new GenericData.Record(nonNull)
          var k = 0
          while (k < sub.length) {
            rec.put(k, if (in.isNullAt(k)) null else sub(k)(in, k))
            k += 1
          }
          rec
        }
      case ArrayType(et, _) =>
        val ec = elemConv(et, nonNull.getElementType)
        (a, j) => {
          val inner = a.getArray(j)
          val out = new java.util.ArrayList[AnyRef](inner.numElements())
          var k = 0
          while (k < inner.numElements()) {
            out.add(if (inner.isNullAt(k)) null else ec(inner, k))
            k += 1
          }
          out
        }
      case other => throw new IllegalArgumentException(s"graft-avro write elem: $other")
    }
  }

  /** First listed file's header schema (driver-side, one footer-sized read). */
  def headerSchema(options: CaseInsensitiveStringMap): ASchema = {
    val files = GraftSources.resolveFiles(options)
    require(files.nonEmpty, "graft-avro: no .avro files found")
    val conf = GraftSources.activeHadoopConf()
    val in = new FsInput(new Path(files.head._1), conf)
    try {
      val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      try r.getSchema finally r.close()
    } finally in.close()
  }

  /** Record count over `[start, end)` by walking BLOCK HEADERS — object
    * counts are stored per block, so no datum decodes. `(0, fileLen)`
    * counts the whole file: the pushed-COUNT(*) fast path, and the row
    * count the dvMaxRatio escalation dial assesses mask density against
    * (avro files carry no stats sidecar). `end` must be a real byte
    * position ≤ the file length — `pastSync` misbehaves on sentinel
    * values like Long.MaxValue.
    */
  def countRecords(conf: org.apache.hadoop.conf.Configuration, p: Path,
      start: Long, end: Long): Long = {
    val in = new FsInput(p, conf)
    // a header-parse failure must not leak the input handle (the
    // escalation caller swallows exceptions and keeps going)
    val reader =
      try new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      catch { case e: Throwable =>
        try in.close() catch { case _: Exception => () }
        throw e
      }
    var total = 0L
    try {
      reader.sync(start)
      var going = true
      while (going && !reader.pastSync(end)) {
        try {
          reader.nextBlock()
          total += reader.getBlockCount
        } catch { case _: java.util.NoSuchElementException => going = false }
      }
    } finally reader.close()
    total
  }

  def codecFor(name: String): CodecFactory = name match {
    case null | "" | "none" | "null" => CodecFactory.nullCodec()
    case "deflate" => CodecFactory.deflateCodec(CodecFactory.DEFAULT_DEFLATE_LEVEL)
    case "snappy" => CodecFactory.snappyCodec()
    case "zstd" | "zstandard" => CodecFactory.zstandardCodec(CodecFactory.DEFAULT_ZSTANDARD_LEVEL)
    case other => throw new IllegalArgumentException(s"graft-avro: unknown codec '$other'")
  }
}

// ======================================================================= read

final class GraftAvroReaderFactory(
    schema: StructType,
    partSpec: Array[(Int, Int, DataType)],
    rowIdxSlot: Int,
    absentOk: Set[String],
    conf: Broadcast[SerializableConfiguration],
    limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftAvroPartitionReader(partition.asInstanceOf[GraftInputPartition], schema,
      partSpec, rowIdxSlot, absentOk, conf.value.value, limit)
}

final class GraftAvroCountReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftAvroCountReader(partition.asInstanceOf[GraftInputPartition], conf.value.value)
}

/** Range reader: sync to the first marker at/after `start`, stop once past
  * `end`. Projection rides the reader schema (decoder-level skip, which
  * counts no skipped bytes). Each decoded record goes through the row
  * base's emit gate, which stamps partition values and whole-file
  * ordinals and drops deletion-masked records (the planner guarantees
  * such partitions either cover the whole file or are block-aligned
  * ranges carrying an exact starting ordinal, so ordinals are exact
  * either way).
  */
final class GraftAvroPartitionReader(
    part: GraftInputPartition,
    schema: StructType,
    partSpec: Array[(Int, Int, DataType)],
    rowIdxSlot: Int,
    absentOk: Set[String],
    conf: org.apache.hadoop.conf.Configuration,
    limit: Int = -1)
    extends GraftRowReader(part, conf, limit, partSpec, rowIdxSlot) {

  private val in = new FsInput(new Path(part.path), conf)
  private val datumReader = new GenericDatumReader[GenericRecord]()
  private val reader = new DataFileReader[GenericRecord](in, datumReader)
  // slots the emit gate stamps are never decoded
  private val stamped = partSpec.map(_._1).toSet + rowIdxSlot
  // fields present in THIS file's writer schema decode; fields an ALTER
  // added after the file was written (absentOk = the recorded schema's
  // physical names) read as null — the text formats' missing-key
  // semantic (absent slots of the row are never written). Anything ELSE
  // absent is a loud error: a typo'd user schema or a degraded
  // column-mapping resolution must never silently read as all-NULL.
  private val presentFields: Array[(StructField, Int)] =
    schema.fields.zipWithIndex.filter { case (f, i) =>
      !stamped(i) && {
        val present = reader.getSchema.getField(f.name) != null
        require(present || absentOk.contains(f.name),
          s"graft-avro: column '${f.name}' not in '${part.path}''s writer " +
            "schema and not in the table's recorded schema — misspelled " +
            "column, or a column-mapped read resolved without its rename " +
            "table")
        present
      }
    }
  // single open: header gives the writer schema, then the pruned reader
  // schema is installed before any datum decodes (setExpected)
  datumReader.setExpected(
    GraftAvro.prunedReaderSchema(reader.getSchema, StructType(presentFields.map(_._1))))
  reader.sync(part.start)
  private val convs: Array[GraftAvro.Conv] =
    presentFields.map { case (f, _) => GraftAvro.readerConv(f.dataType) }
  private var record: GenericRecord = _
  private val row = new GenericInternalRow(schema.length)

  protected val source: RowSource = new RowSource {
    private var done = false
    override def isExhausted: Boolean = done || {
      done = !reader.hasNext || reader.pastSync(part.end)
      done
    }
    override def step(): Unit = {
      record = reader.next(record)
      var j = 0
      while (j < convs.length) {
        val v = record.get(j)
        row.update(presentFields(j)._2, if (v == null) null else convs(j)(v))
        j += 1
      }
      emit(row)
    }
    override def close(): Unit = reader.close()
  }

  protected def skippedBytes: Long = 0L
}

/** Decode-free COUNT(*): walk block headers in the range, sum counts. A
  * deletion vector subtracts its cardinality (the planner guarantees a
  * masked file arrives as ONE whole-file partition, so the block sum is
  * the file's full record count).
  */
final class GraftAvroCountReader(
    part: GraftInputPartition,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private var emitted = false
  private val row = new GenericInternalRow(1)

  override def next(): Boolean = {
    if (emitted) return false
    var total = GraftAvro.countRecords(conf, new Path(part.path), part.start, part.end)
    val m = DeletionVectors.partitionMask(conf, part)
    if (m != null) {
      require(m.cardinality <= total && m.last < total,
        s"graft-avro count: deletion vector for '${part.dvTarget}' addresses " +
          s"ordinal ${m.last} but the file holds $total records — artifact/" +
          "file mismatch (out-of-band rewrite?)")
      total -= m.cardinality
    }
    row.setLong(0, total)
    emitted = true
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    GraftSources.skippedBytesMetric(0L)
}

// ====================================================================== write

/** `format("graft-avro")` rows: one Avro object container per part file,
  * compressed per container block by `codec`. A zero-row part is a
  * header-only container.
  */
final case class AvroEncoding(codec: String) extends RowEncoding {
  GraftAvro.codecFor(codec) // refuse an unknown codec before any task runs

  override def ext: String = "avro"

  // a BINARY format: int and long encode differently, so the text
  // widening lattice cannot apply to a recorded schema
  override def widen: Boolean = false

  override def open(out: org.apache.hadoop.fs.FSDataOutputStream, dataSchema: StructType,
      blockBytes: Long): RowEncoder = new AvroEncoder(out, dataSchema, codec, blockBytes)
}

// the SAME value-level stats the text sinks record (min/max/nulls/blooms —
// format-independent facts about the rows), so avro scans get file pruning
// and the manifest's one-read-per-directory planning. Intra-file blocks
// ride avro's OWN framing: the writer forces a container sync boundary
// about every `blockBytes` bytes and records each range's rows +
// per-column min/max/nulls as `blk` lanes. Boundaries are PRE-marker byte
// positions (`DataFileWriter.sync()` returns the post-marker position), so
// the reader's standard sync(start)/pastSync(end) range protocol realigns
// exactly at block edges: per-range ROW COUNTS are exact (splits over
// deletion-vector-masked / row-indexed files carry starting ordinals, the
// q213 fix) and selective scans prune blocks (the q199 lane for avro).
// Unlike the text lanes, compression keeps blocks usable — positions are
// real file offsets; avro compresses per container block.
private final class AvroEncoder(
    out: org.apache.hadoop.fs.FSDataOutputStream,
    schema: StructType,
    codec: String,
    blockBytes: Long)
    extends RowEncoder(new FileStatsCollector(schema, blockBytes = blockBytes)) {

  private val avroSchema = GraftAvro.toAvroSchema(schema)
  private val convs: Array[GraftAvro.WConv] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      GraftAvro.writerConv(f.dataType, avroSchema.getFields.get(i).schema())
    }
  private val writer = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(GraftAvro.codecFor(codec))
    // the budget check reads the underlying stream position, which only
    // advances when the writer flushes a container block (default sync
    // interval 64 KB) — a SMALLER block budget must lower the flush
    // cadence or it would quantize away. The container framing is never
    // COARSENED: recorded blocks are a multiple of ordinary 64 KB avro
    // blocks, so split realignment (a byte scan for the next marker)
    // stays ~64 KB-granular whatever the recorded-block budget.
    if (blockBytes > 0 && blockBytes < 64000)
      w.setSyncInterval(math.max(32L, blockBytes).toInt)
    w.create(avroSchema, out)
  }
  // last recorded block boundary (pre-marker). The budget check reads the
  // UNDERLYING stream position, which lags the logical position by at
  // most the writer's in-memory block buffer (~64 KB) — boundaries land
  // within a buffer of the budget, and the recorded positions themselves
  // are exact (sync() returns the logical post-marker offset).
  private var lastBoundary = 0L

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    while (i < convs.length) {
      rec.put(i, if (row.isNullAt(i)) null else convs(i)(row, i))
      i += 1
    }
    writer.append(rec)
    stats.observe(row)
    if (blockBytes > 0 && out.getPos - lastBoundary >= blockBytes) {
      // force the container boundary: flushes the pending block (+ its
      // sync marker) and returns the post-marker position — even when the
      // writer auto-flushed at this exact row, the position is still
      // immediately after a marker, so the pre-marker edge is exact
      val edge = writer.sync() - org.apache.avro.file.DataFileConstants.SYNC_SIZE
      stats.closeBlockAt(edge)
      lastBoundary = edge
    }
  }

  override def close(): Unit = writer.close()

  // final block: everything since the last forced boundary, ending at the
  // published length (rows-less when close() flushed nothing new — the
  // previous block then extends over the trailing marker bytes)
  override def snapshot(len: Long): FileStats.Stats = {
    stats.closeBlockAt(len)
    stats.snapshot(len)
  }
}
