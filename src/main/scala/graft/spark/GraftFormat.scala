package graft.spark

import graft.core.csv.CsvParser
import graft.core.json.JsonParser

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType,
  VariantType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/** What a scan hands its format's reader factories. `schema` names data
  * columns by their PHYSICAL keys (rows are positional, so Spark still
  * sees the logical read schema); `filters` are the ones the parse may
  * evaluate; `partSpec` holds the slots stamped from partition values;
  * `recordedCols` the physical names the table's recorded schema knows;
  * `dataCols` is the physical data-column order of the table (what a CSV
  * range past byte 0 maps its cells by).
  */
private[spark] final case class ReadSpec(
    options: CaseInsensitiveStringMap,
    conf: Broadcast[SerializableConfiguration],
    schema: StructType,
    filters: Array[Filter],
    partSpec: Array[(Int, Int, DataType)],
    recordedCols: Set[String],
    dataCols: Array[String] = Array.empty,
    limit: Int = -1,
    rowIdxSlot: Int = -1)

/** What differs between graft-json, graft-csv and graft-avro, and nothing
  * else: one [[GraftTable]], [[GraftScanBuilder]] and [[GraftScan]] serve
  * all three through it. The reference gives every backend one consumer
  * contract (JSON and CSV drive the same Plate, and a backend may ignore
  * a signal it cannot honour); this is the scan's side of that contract.
  */
sealed abstract class GraftFormat(val name: String) extends Serializable {

  /** The schema of a read that names none. */
  def inferSchema(options: CaseInsensitiveStringMap): StructType

  /** Whether an uncompressed file splits at raw byte offsets, each range
    * realigning to its first whole record.
    */
  def splitsOnOffsets(options: CaseInsensitiveStringMap): Boolean

  /** The split size when `maxsplitbytes` is not set. */
  def defaultSplitBytes: Long =
    SparkSession.active.sessionState.conf.filesMaxPartitionBytes

  /** Whether sidecar-recorded blocks can be read as ranges in this read
    * mode at all.
    */
  def blockLanesUsable(options: CaseInsensitiveStringMap): Boolean = true

  /** Whether one file's recorded blocks read right as ranges, given the
    * table's physical data-column order.
    */
  def blocksUsable(stats: FileStats.Stats, dataCols: Seq[String]): Boolean = true

  /** Whether pushed filters reach the reader. When they do not, they only
    * prune files and blocks, and `pushedFilters()` stays empty.
    */
  def filtersReachReader: Boolean = true

  def rowReaderFactory(spec: ReadSpec): PartitionReaderFactory
  /** The pushed ungrouped COUNT(*): one partial count per partition. */
  def countReaderFactory(spec: ReadSpec): PartitionReaderFactory
  def streamReaderFactory(spec: ReadSpec): PartitionReaderFactory

  /** Micro-batch admission: whole files, unless the format streams byte
    * windows.
    */
  def microBatchStream(options: CaseInsensitiveStringMap, checkpointLocation: String,
      factory: PartitionReaderFactory, partCols: Seq[String]): MicroBatchStream =
    new WholeFileMicroBatchStream(options, checkpointLocation, factory, partCols)

  /** The row encoding of a write; refuses the options the format cannot
    * honour yet.
    */
  def encoding(info: LogicalWriteInfo, partTransforms: Array[Transform],
      opt: String => Option[String]): RowEncoding
}

object GraftFormat {

  /** JSON and CSV counts parse with every value byte-skipped, unless a
    * whole sink-written file's sidecar answers.
    */
  private def parsedCount(s: ReadSpec, jsonMode: Option[JsonParser.Mode])
      : PartitionReaderFactory =
    new GraftCountReaderFactory(s.conf, jsonMode,
      GraftSources.csvConfig(s.options.asCaseSensitiveMap()),
      dropMalformed = GraftSources.dropMalformed(s.options),
      countMalformed = GraftSources.keepMalformed(s.options),
      useStats = s.options.getBoolean("dataskipping", true), fullDataCols = s.dataCols)

  /** Hive partition columns, the row-index column and the change-type
    * column follow the data fields of an inferred schema.
    */
  private def withSynthetic(options: CaseInsensitiveStringMap, data: StructType,
      listing: GraftSources.Listing): StructType = {
    def absent(c: String) = !data.fieldNames.contains(c)
    val partExtra = GraftSources.partitionSchema(listing).filter(f => absent(f.name))
    val withIdx =
      if (options.getBoolean("withrowindex", false) && absent(GraftSources.RowIndexCol))
        Seq(StructField(GraftSources.RowIndexCol, LongType))
      else Nil
    val withCdf =
      if (GraftSources.readChangeFeed(options) && absent(GraftSources.ChangeTypeCol))
        Seq(StructField(GraftSources.ChangeTypeCol, StringType, nullable = false))
      else Nil
    StructType(data.fields ++ partExtra ++ withIdx ++ withCdf)
  }

  case object Json extends GraftFormat("graft-json") {
    private def mode(options: CaseInsensitiveStringMap): JsonParser.Mode =
      GraftSources.jsonMode(options.asCaseSensitiveMap())

    override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
      // open-typed mode: one VARIANT column, no inference pass at all —
      // heterogeneous rows and exact decimal scale survive ingestion
      if (options.getBoolean("variant", false))
        return StructType(Seq(StructField("value", VariantType)))
      val listing = GraftSources.resolvePartitioned(options)
      // a commit-log-recorded schema is authoritative: the writer's types
      // (dates stay dates) with zero data bytes sampled — the piece that
      // keeps schemaless planning O(log) instead of O(#files) prefix reads
      val data0 = GraftSources.logSchema(options).getOrElse {
        val conf = GraftSources.activeHadoopConf()
        val sampleBytes = Option(options.get("samplebytes")).map(_.toLong).getOrElse(4L << 20)
        // sample a bounded prefix of each file on the driver
        val merged = listing.files.foldLeft[SchemaInference.T](SchemaInference.TUnknown) {
          case (acc, f) =>
            val (buf, whole) = GraftSources.readPrefix(new Path(f.path), conf, f.len, sampleBytes)
            val plate = new SchemaInference.InferencePlate
            val parser = new JsonParser(plate, mode(options))
            parser.absorb(buf)
            if (whole) parser.finish()
            SchemaInference.merge(acc, plate.finishBatch(true))
        }
        SchemaInference.toStructType(merged)
      }
      // PERMISSIVE (badrecords=keep): the corrupt-record column is part of
      // the inferred schema (always appended — deterministic, all-null when
      // the data is clean; Spark only adds it when the sample has bad rows)
      val corrupt = GraftSources.corruptColumn(options)
      val data =
        if (GraftSources.keepMalformed(options) && !data0.fieldNames.contains(corrupt))
          StructType(data0.fields :+ StructField(corrupt, StringType))
        else data0
      withSynthetic(options, data, listing)
    }

    // raw '\n' never occurs inside a JSON token, so any newline is a safe
    // split point — in lines mode, the only mode the sink writes
    override def splitsOnOffsets(options: CaseInsensitiveStringMap): Boolean =
      mode(options) == JsonParser.ValueStream
    override def blockLanesUsable(options: CaseInsensitiveStringMap): Boolean =
      mode(options) == JsonParser.ValueStream

    override def rowReaderFactory(s: ReadSpec): PartitionReaderFactory = {
      // saturation pushdown (skip the row tail once every schema column is
      // bound). Since round 15 the DEFAULT tail is consumed by the chained
      // key cruise — duplicate keys stay last-wins (spark parity) and
      // key-position structure is validated; container values under
      // unwanted keys still byte-skip unvalidated (SkipColumn's documented
      // elision). option("saturation","fast") restores the pre-round-15
      // BLIND one-scan tail (max skip throughput; dup keys after saturation
      // keep the FIRST value — measured ~12% on the paired skip ratio);
      // option("saturation","false") disables the pushdown entirely
      // (strict tail validation at full-parse cost).
      val satOpt = Option(s.options.get("saturation"))
        .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("true")
      new GraftJsonReaderFactory(s.schema, s.filters, s.conf, mode(s.options),
        dropMalformed = GraftSources.dropMalformed(s.options),
        limit = s.limit, partSpec = s.partSpec,
        corruptCol =
          if (GraftSources.keepMalformed(s.options)) GraftSources.corruptColumn(s.options)
          else null,
        saturate = satOpt != "false", rowIdxSlot = s.rowIdxSlot,
        vectorized = s.options.getBoolean("vectorized", true),
        fastSatTail = satOpt == "fast")
    }
    override def countReaderFactory(s: ReadSpec): PartitionReaderFactory =
      parsedCount(s, Some(mode(s.options)))
    override def streamReaderFactory(s: ReadSpec): PartitionReaderFactory =
      new GraftJsonReaderFactory(s.schema, s.filters, s.conf, mode(s.options),
        partSpec = s.partSpec)

    // JSON lines stream byte windows: a trigger may end mid-file
    override def microBatchStream(options: CaseInsensitiveStringMap,
        checkpointLocation: String, factory: PartitionReaderFactory,
        partCols: Seq[String]): MicroBatchStream =
      new GraftJsonMicroBatchStream(options, checkpointLocation, factory, partCols)

    override def encoding(info: LogicalWriteInfo, partTransforms: Array[Transform],
        opt: String => Option[String]): RowEncoding =
      JsonEncoding(opt("compression").getOrElse("none").toLowerCase(java.util.Locale.ROOT))
  }

  case object Csv extends GraftFormat("graft-csv") {
    private def config(options: CaseInsensitiveStringMap): CsvParser.Config =
      GraftSources.csvConfig(options.asCaseSensitiveMap())

    override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
      val listing = GraftSources.resolvePartitioned(options)
      // commit-log-recorded schema wins (typed columns, not all-string
      // header inference) — see the JSON format's note
      val data = GraftSources.logSchema(options).getOrElse {
        val f = listing.files.headOption.getOrElse(
          throw new IllegalArgumentException("no input files"))
        val (buf, whole) = GraftSources.readPrefix(
          new Path(f.path), GraftSources.activeHadoopConf(), f.len, 1L << 20)
        // capture the first data row's keys (header names or inferred A..Z)
        val keys = new mutable.LinkedHashSet[String]
        val plate = new graft.core.Plate[Unit] {
          import graft.core.Signal
          var rows = 0
          def nul() = Signal.Continue
          def fls() = Signal.Continue
          def tru() = Signal.Continue
          def map() = Signal.Continue
          def arr() = Signal.Continue
          def num(s: CharSequence, d: Int, e: Int) = Signal.Continue
          def str(s: CharSequence) = Signal.Continue
          def nestMap(k: CharSequence) = {
            if (rows == 0) keys += k.toString
            Signal.Continue
          }
          def nestArr() = Signal.Continue
          def nestMeta(k: CharSequence) = Signal.Continue
          def unnest() = Signal.Continue
          def finishRow(): Unit = rows += 1
          def finishBatch(terminal: Boolean): Unit = ()
          def skipped(bytes: Int): Unit = ()
        }
        val parser = new CsvParser(plate, config(options))
        parser.absorb(buf)
        if (whole) parser.finish()
        StructType(keys.toSeq.map(k => StructField(k, StringType)))
      }
      withSynthetic(options, data, listing)
    }

    // quoted row delimiters make byte-range splits unsound; the user
    // asserts values hold none with option("splittable","true")
    override def splitsOnOffsets(options: CaseInsensitiveStringMap): Boolean =
      options.getBoolean("splittable", false)

    // a mid-file range maps cells POSITIONALLY (it cannot re-read the
    // file's header row), so its blocks read right only when the file's
    // recorded column order equals the table's — schema evolution legally
    // admits appends that omit or reorder columns, and such a file must
    // read whole (name-keyed). Block edges are exact row starts, so no
    // delimiter-in-value assumption is needed.
    override def blocksUsable(stats: FileStats.Stats, dataCols: Seq[String]): Boolean =
      stats.header.contains(dataCols)

    override def rowReaderFactory(s: ReadSpec): PartitionReaderFactory =
      new GraftCsvReaderFactory(s.schema, s.filters, s.conf, config(s.options),
        limit = s.limit, partSpec = s.partSpec, fullDataCols = s.dataCols,
        rowIdxSlot = s.rowIdxSlot, vectorized = s.options.getBoolean("vectorized", true))
    override def countReaderFactory(s: ReadSpec): PartitionReaderFactory =
      parsedCount(s, None)
    override def streamReaderFactory(s: ReadSpec): PartitionReaderFactory =
      new GraftCsvReaderFactory(s.schema, s.filters, s.conf, config(s.options),
        partSpec = s.partSpec)

    override def encoding(info: LogicalWriteInfo, partTransforms: Array[Transform],
        opt: String => Option[String]): RowEncoding =
      CsvEncoding(
        codec = opt("compression").getOrElse("none").toLowerCase(java.util.Locale.ROOT),
        header = opt("header").getOrElse("true").toBoolean,
        delim = opt("delimiter").orElse(opt("sep")).getOrElse(","), // both names accepted
        linesep = opt("linesep").getOrElse("\n"))
  }

  case object Avro extends GraftFormat("graft-avro") {
    override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
      val data = GraftAvro.toSparkSchema(GraftAvro.headerSchema(options))
      // CDF reads append the synthetic change-type column (Delta's shape)
      if (GraftSources.readChangeFeed(options) &&
          !data.fieldNames.contains(GraftSources.ChangeTypeCol))
        StructType(data.fields :+
          StructField(GraftSources.ChangeTypeCol, StringType, nullable = false))
      else data
    }

    // container files realign on sync markers, so any byte range is safe;
    // the header (read per task) is tiny next to a split. Recorded block
    // edges are sync-marker edges the sink forced, so a block range's
    // sync(start)/pastSync(end) starts and stops exactly at them
    override def splitsOnOffsets(options: CaseInsensitiveStringMap): Boolean = true
    override def defaultSplitBytes: Long = 32L << 20

    // the reader decodes whole records; filters only prune files and blocks
    override def filtersReachReader: Boolean = false

    // a column the table's RECORDED schema knows may be absent from an
    // older file's writer schema (an ALTER added it later) and reads as
    // NULL; anything else absent is a loud error — a typo'd user schema
    // or a degraded column-mapping resolution must never silently read as
    // all-NULL. Untracked tables have no record, so every absence is loud.
    override def rowReaderFactory(s: ReadSpec): PartitionReaderFactory =
      new GraftAvroReaderFactory(s.schema, s.partSpec, s.rowIdxSlot, s.recordedCols, s.conf,
        s.limit)
    // object counts live in the container framing: no datum decodes
    override def countReaderFactory(s: ReadSpec): PartitionReaderFactory =
      new GraftAvroCountReaderFactory(s.conf)
    override def streamReaderFactory(s: ReadSpec): PartitionReaderFactory =
      new GraftAvroReaderFactory(s.schema, s.partSpec, -1, s.recordedCols, s.conf)

    override def encoding(info: LogicalWriteInfo, partTransforms: Array[Transform],
        opt: String => Option[String]): RowEncoding = {
      // mergeschema: the avro read path resolves each file's embedded
      // schema, not the log's merged one, so accepting the merge would
      // record a schema the reader cannot yet serve — refuse.
      // check / partitionby: the shared write path would honour both, but
      // no avro spec covers CHECK failures or a partitioned avro read-back
      // yet, so they stay refused until one does
      def refuse(o: String): Nothing = throw new IllegalArgumentException(
        s"graft-avro does not support option('$o', ...) yet — " +
          "use graft-json/graft-csv for CHECK constraints, schema evolution, " +
          "and partitioned layouts")
      Seq("check", "mergeschema", "partitionby").filter(info.options.get(_) != null)
        .foreach(refuse)
      if (partTransforms.nonEmpty) refuse("partitionby")
      AvroEncoding(opt("codec").getOrElse("none").toLowerCase(java.util.Locale.ROOT))
    }
  }
}

/** `spark.read.format(<shortName>)`: each provider names its format; the
  * format infers the schema and the one [[GraftTable]] does the rest.
  * `META-INF/services` registers each provider by name.
  */
abstract class GraftTableProvider(format: GraftFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.inferSchema(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftTable(format, schema, partitioning, properties)
}

class GraftJsonTableProvider extends GraftTableProvider(GraftFormat.Json)
class GraftCsvTableProvider extends GraftTableProvider(GraftFormat.Csv)
class GraftAvroTableProvider extends GraftTableProvider(GraftFormat.Avro)
