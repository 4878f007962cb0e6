package graft.spark

import graft.core.ParseResult
import graft.core.csv.CsvParser
import graft.core.json.JsonParser

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table,
  TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import java.util.OptionalLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** DataSource V2 integration for the graft parser core (SURVEY §7.1):
  * `spark.read.format("graft-json")` / `format("graft-csv")`, and the
  * scan `format("graft-avro")` shares with them — one [[GraftTable]],
  * [[GraftScanBuilder]] and [[GraftScan]], with what differs per format
  * behind [[GraftFormat]].
  *
  * Scale design (100 TB stance):
  *  - JSON-lines files are split into byte ranges at
  *    `spark.sql.files.maxPartitionBytes` granularity and realigned to row
  *    boundaries executor-side (raw '\n' can never occur inside a JSON
  *    token, so any newline is a safe split point). One task per range —
  *    a single 1 TB file parallelizes across the cluster.
  *  - multiline JSON (array/single modes) and CSV (quoted row delimiters
  *    make newline splits unsound) read one file per task; parallelism
  *    comes from file count.
  *  - Catalyst column pruning reaches the byte level: the pruned schema
  *    drives SkipColumn plates (projection pushdown into the parse);
  *    pushed filters drive SkipRow (predicate pushdown). Skipped bytes
  *    surface as a custom SQLMetric on the scan node.
  */
object GraftSources {
  final val SkippedBytesMetricName = "graftSkippedBytes"

  /** A reader's task-level report of [[SkippedBytesMetricName]]. */
  def skippedBytesMetric(bytes: Long): Array[CustomTaskMetric] =
    Array(new CustomTaskMetric {
      override def name(): String = SkippedBytesMetricName
      override def value(): Long = bytes
    })

  def activeHadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** The session's Hadoop conf as graft tasks read it: one broadcast per
    * distinct conf per SparkContext, shared by every reader and writer
    * factory (the `broadcastedConf` pattern of Spark's own file scans), so
    * no task deserializes the ~113 KB conf itself. The last broadcast is
    * reused while both the context and the conf's full key/value content
    * are unchanged; any edit (`spark.conf.set`,
    * `sparkContext.hadoopConfiguration`) ships a fresh one. The value is
    * shared across tasks: read it, never mutate.
    */
  def broadcastHadoopConf(spark: SparkSession = SparkSession.active)
      : Broadcast[SerializableConfiguration] = {
    val conf = spark.sessionState.newHadoopConf()
    val content = new java.util.HashMap[String, String]()
    conf.iterator().asScala.foreach(e => content.put(e.getKey, e.getValue))
    val sc = spark.sparkContext
    shipLock.synchronized {
      val last = lastShipped
      if (last != null && (last.sc eq sc) && !sc.isStopped && last.content == content)
        last.conf
      else {
        val b = sc.broadcast(new SerializableConfiguration(conf))
        lastShipped = ShippedConf(sc, content, b)
        b
      }
    }
  }
  private final case class ShippedConf(sc: SparkContext,
      content: java.util.Map[String, String], conf: Broadcast[SerializableConfiguration])
  private val shipLock = new Object
  private var lastShipped: ShippedConf = null

  /** Compressed inputs: read through a decompressor in DECOMPRESSED
    * coordinates, never split (a byte range inside a compressed member
    * cannot be realigned).
    */
  def compressionCodec(path: String): Option[String] = {
    val p = path.toLowerCase(java.util.Locale.ROOT)
    if (p.endsWith(".gz") || p.endsWith(".gzip")) Some("gzip")
    else if (p.endsWith(".zst") || p.endsWith(".zstd")) Some("zstd")
    else None
  }
  def isCompressed(path: String): Boolean = compressionCodec(path).isDefined

  /** Wrap a raw stream with the path's decompressor. */
  def decompress(path: String, in: java.io.InputStream): java.io.InputStream =
    compressionCodec(path) match {
      case Some("gzip") => new java.util.zip.GZIPInputStream(in, 64 * 1024)
      case Some("zstd") =>
        val z = new com.github.luben.zstd.ZstdInputStream(in)
        z.setContinuous(true) // concatenated frames read through
        new java.io.BufferedInputStream(z, 64 * 1024)
      case _ => in
    }

  /** One whole-file input partition. Compressed files use Long.MaxValue
    * for end/fileLen: readers work in decompressed coordinates, where the
    * length is unknown at planning — the feeders' "consume to EOF" path
    * (end == fileLen) handles both.
    */
  def wholeFilePartition(path: String, len: Long,
      partValues: Array[String] = Array.empty): GraftInputPartition =
    if (isCompressed(path)) GraftInputPartition(path, 0, Long.MaxValue, Long.MaxValue, partValues)
    else GraftInputPartition(path, 0, len, len, partValues)

  /** Up to `maxBytes` decompressed bytes from a file's head (driver-side
    * schema sampling). Returns (bytes, sawWholeFile).
    */
  def readPrefix(path: Path, conf: Configuration, fileLen: Long,
      maxBytes: Long): (Array[Byte], Boolean) = {
    if (!isCompressed(path.getName)) {
      val in = path.getFileSystem(conf).open(path)
      try {
        val n = math.min(fileLen, maxBytes).toInt
        val buf = new Array[Byte](n)
        in.readFully(0, buf)
        (buf, fileLen <= maxBytes)
      } finally in.close()
    } else {
      val in = decompress(path.getName, path.getFileSystem(conf).open(path))
      try {
        val max = maxBytes.toInt
        val buf = new Array[Byte](math.min(max, 1 << 20).max(1))
        val out = new java.io.ByteArrayOutputStream()
        var eof = false
        while (!eof && out.size < max) {
          val n = in.read(buf, 0, math.min(buf.length, max - out.size))
          if (n < 0) eof = true else out.write(buf, 0, n)
        }
        // sawWholeFile only when the member ended within the budget
        (out.toByteArray, eof || in.read() < 0)
      } finally in.close()
    }
  }

  /** Resolve the path option (possibly comma-separated, possibly dirs)
    * into concrete file paths.
    */
  def resolveFiles(options: CaseInsensitiveStringMap): Seq[(String, Long)] =
    resolvePartitioned(options).files.map(f => (f.path, f.len))

  /** Committed files in COMMIT-LOG order (version ascending, then each
    * entry's own order) — the streaming sources' `followLog` discovery:
    * only files a batch commit published are admitted (in-flight and
    * rogue files never enter the stream), in a deterministic order that
    * never interleaves old and new names. Empty before the first commit.
    * A logged file that has vanished fails loudly — committed data is
    * not allowed to silently skip.
    */
  /** `knownLen`: lengths the CALLER already admitted (the stream
    * registry's persisted path→len map). A known file resolves without
    * touching the filesystem, so (a) a poll stats only NEW files —
    * O(new) per poll, not O(history) — and (b) a retired original that
    * materializeDeletes/VACUUM physically reclaimed after the stream
    * delivered it cannot kill the live stream or its restart (the
    * registry remembers the length; only never-seen files must exist).
    */
  def logOrderedFiles(options: CaseInsensitiveStringMap,
      knownLen: String => Option[Long] = _ => None): Seq[(String, Long)] = {
    val conf = activeHadoopConf()
    val raw = Option(options.get("path")).orElse(Option(options.get("paths")))
      .orElse(Option(options.get("location")))
      .getOrElse(throw new IllegalArgumentException("graft source requires a 'path' option"))
    val roots = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(roots.length == 1,
      s"followLog needs exactly one root directory, got ${roots.length}")
    val root = new Path(roots.head
      .stripPrefix("[\"").stripSuffix("\"]").stripPrefix("\"").stripSuffix("\""))
    val fs = root.getFileSystem(conf)
    val vs = GraftCommitLog.versions(fs, root)
    // expired history (expireLogHistory retired the raw prefix): the
    // entries carrying the early adds are GONE, so folding only the
    // surviving entries would silently miss those files — the one outcome
    // a stream must never have. Seed from the covering checkpoint's live
    // set instead (the Delta initial-snapshot shape: snapshot at the
    // checkpoint in deterministic sorted order, then follow the suffix in
    // commit order), or refuse loudly when no checkpoint covers it.
    val (seed, suffix) =
      if (vs.isEmpty || vs.min == 0L) (Nil, vs)
      else GraftCommitLog.checkpointStateAtOrBefore(fs, root, vs.min) match {
        // the checkpoint must actually COVER the expired prefix: an older
        // readable checkpoint (the newest one corrupt, say) still leaves
        // a gap of expired entries whose adds are unrecoverable
        case Some((cv, state)) if cv >= vs.min - 1 =>
          // a deletion vector in the seed means rows were deleted in
          // place — a stream reading the raw file would over-deliver;
          // same refusal entryFiles gives a `d` entry in the suffix
          state.find(_._2 != null).foreach { case (p, _) =>
            throw new IllegalStateException(
              s"followLog: checkpoint $cv under $root carries a deletion " +
                s"vector for '$p' — a stream cannot apply row-level deletes; " +
                "materialize the deletes (TrainingData.materializeDeletes) " +
                "and restart the stream from a fresh checkpoint")
          }
          (state.keySet.toSeq.sorted, vs.filter(_ > cv))
        case _ => throw new IllegalStateException(
          s"followLog: log history under $root starts at version ${vs.min} " +
            "(expireLogHistory) with no readable checkpoint covering the " +
            "expired prefix — a partial stream would silently miss files; " +
            "restore the checkpoint or the expired entries")
      }
    def stat(rel: String, src: String): (String, Long) = {
      val p = fs.makeQualified(new Path(root, rel))
      knownLen(p.toString) match {
        case Some(len) => (p.toString, len) // already admitted: no fs hit
        case None =>
          val st =
            try fs.getFileStatus(p)
            catch { case _: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"followLog: committed file $rel ($src) is missing under $root " +
                  "— was the directory vacuumed out-of-band?") }
          (p.toString, st.getLen)
      }
    }
    // option("skipchangecommits","true") — the Delta shape for streaming
    // over a table that takes row-level deletes: commits carrying removes
    // or deletion vectors are SKIPPED WHOLE (their adds are rewritten old
    // rows — delivering them would duplicate; their deletes cannot be
    // un-delivered). Explicit opt-in: the default remains the loud
    // refusal, because skipping silently under-delivers updates. The
    // checkpoint-seed refusal above stays either way — an initial
    // snapshot with masks would OVER-deliver, which no option may allow.
    val skipChanges =
      "true".equalsIgnoreCase(Option(options.get("skipchangecommits")).getOrElse(""))
    seed.map(stat(_, "checkpoint live set")) ++
      suffix.flatMap { v =>
        // TAILING read: this poll can list a version whose entry body is
        // still being written — re-read within the grace window instead
        // of failing the stream on a torn prefix (entryActionsTailing)
        val acts = GraftCommitLog.entryActionsTailing(fs, root, v)
        if (skipChanges) {
          if (acts.exists(!_.add)) Nil
          else acts.map(a => stat(a.path, s"version $v"))
        } else GraftCommitLog.appendOnlyFiles(acts, root, v)
          .map(stat(_, s"version $v"))
      }
  }

  /** `dv`/`dvTarget`: when the file carries a deletion vector in the
    * resolved snapshot — the artifact's ABSOLUTE path and the file's
    * root-relative path (the artifact's recorded target, cross-checked at
    * read time). null = no vector (the common case).
    */
  final case class ListedFile(path: String, len: Long, partValues: Array[String],
      dv: String = null, dvTarget: String = null)
  /** `partCols` in first-seen directory order; each file's `partValues`
    * align to it (null = value absent for that file). `physMap` is the
    * COLUMN-MAPPING rename table (logical name -> physical key in data
    * files, only where they differ) from the recorded schema as of the
    * resolved version — empty for unmapped/untracked tables.
    * `recordedCols` holds the physical names of every column that
    * recorded schema knows (empty when the table records none).
    */
  final case class Listing(partCols: Seq[String], files: Seq[ListedFile],
      physMap: Map[String, String] = Map.empty, recordedCols: Set[String] = Set.empty)

  /** StructField-metadata key holding a column's PHYSICAL name (the key
    * data files store it under). Assigned by ALTER RENAME COLUMN — the
    * physical name never changes once data exists, so a rename is a
    * schema-only commit and old files keep reading (the Delta
    * column-mapping shape, name-based).
    */
  final val PhysicalNameKey = "graft.physical"

  /** Extract the logical->physical rename map (differing entries only). */
  def physicalMap(schema: StructType): Map[String, String] =
    schema.fields.iterator.flatMap { f =>
      if (f.metadata.contains(PhysicalNameKey)) {
        val ph = f.metadata.getString(PhysicalNameKey)
        if (ph != f.name) Some(f.name -> ph) else None
      } else None
    }.toMap

  /** A field's physical name (identity when unmapped). */
  def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** One hive `k=v` path segment → (column, value) under the shared
    * unescaping and `__HIVE_DEFAULT_PARTITION__` → null convention; null
    * for a non-partition segment. Every enumeration path (raw walk,
    * per-file partition values, log-mediated listing) parses through
    * here, so they can never disagree on the same directory.
    */
  private def hiveSegment(seg: String): (String, String) = {
    val eq = seg.indexOf('=')
    if (eq <= 0) null
    else {
      val v = unescapePathValue(seg.substring(eq + 1))
      (seg.substring(0, eq), if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
    }
  }

  /** The hive `k=v` pairs of a ROOT-RELATIVE directory path, in segment
    * order (non-partition segments skipped). The log-mediated listing and
    * [[snapshotLayout]] read partition values from the log's paths through
    * here, without listing a directory.
    */
  def dirPartitions(relDir: String): Seq[(String, String)] =
    if (relDir.isEmpty) Nil
    else relDir.split('/').toSeq.flatMap(seg => Option(hiveSegment(seg)))

  /** The partition layout of a snapshot, from its root-relative file
    * paths alone: `partCols` in the order the log-mediated listing finds
    * them (sorted directories, first seen), each file's values aligned to
    * it. Files carry their relative path and no length — enough for
    * [[partitionSchema]] and for a caller that needs only the columns.
    */
  def snapshotLayout(relPaths: Iterable[String]): Listing = {
    val partCols = new mutable.LinkedHashSet[String]
    val perFile = relPaths.toSeq.map { r =>
      val i = r.lastIndexOf('/')
      (if (i < 0) "" else r.substring(0, i), r)
    }.sorted.map { case (d, r) =>
      val kv = dirPartitions(d)
      partCols ++= kv.map(_._1)
      r -> kv.toMap
    }
    val cols = partCols.toSeq
    Listing(cols, perFile.map { case (r, kv) =>
      ListedFile(r, -1L, cols.map(c => kv.getOrElse(c, null)).toArray)
    })
  }

  /** Hive path unescaping: only %xx sequences decode ('+' stays literal —
    * URLDecoder semantics would corrupt it).
    */
  private def unescapePathValue(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Required-schema slots served from per-file hive partition values:
    * (output index, index into the file's partValues, target type) — the
    * shape the partition readers stamp with (one resolver for the batch
    * scan and every streaming lane).
    */
  def partSpecFor(schema: StructType, partCols: Seq[String])
      : Array[(Int, Int, org.apache.spark.sql.types.DataType)] =
    schema.fields.zipWithIndex.flatMap { case (f, i) =>
      val pi = partCols.indexOf(f.name)
      if (pi >= 0) Some((i, pi, f.dataType)) else None
    }

  /** The raw multi-path option split into root paths — the ONE
    * implementation behind both the batch directory walk
    * (resolvePartitioned) and streaming root resolution
    * (qualifiedRoots), so the two can never diverge. Paths are
    * comma-separated (Spark's own multi-path reader convention — a root
    * containing a literal comma is unsupported, as in Spark); JSON-array
    * remnants from `DataFrameReader.load(paths*)` are unwrapped.
    */
  private def splitRootPaths(raw: String): Seq[Path] =
    raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
      new Path(p.stripPrefix("[\"").stripSuffix("\"]")
        .stripPrefix("\"").stripSuffix("\""))
    }

  /** The read options' root paths, fs-qualified (the resolvePartitioned
    * parse, without the directory walk) — streaming lanes use them to
    * derive each admitted file's root-relative path.
    */
  def qualifiedRoots(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("path")).orElse(Option(options.get("paths")))
      .orElse(Option(options.get("location"))).getOrElse(return Nil)
    val conf = activeHadoopConf()
    splitRootPaths(raw).map(path =>
      path.getFileSystem(conf).makeQualified(path).toString)
  }

  /** Hive k=v partition values for ONE streamed file, aligned to
    * `partCols` — parsed from the path's directory segments below its
    * root (the same unescaping and null-partition convention as the
    * directory walk), with the synthetic [[FilePathCol]] filled from the
    * root-relative path. Whole-file/whole-segment streaming admission
    * knows each file's path, so partition values ride into streamed rows
    * exactly like the batch read (round 11; previously a loud refusal).
    */
  def partValuesForFile(qualifiedPath: String, rootsQ: Seq[String],
      partCols: Seq[String]): Array[String] = {
    if (partCols.isEmpty) return Array.empty
    val rel = rootsQ.collectFirst {
      case r if qualifiedPath == r =>
        qualifiedPath.substring(qualifiedPath.lastIndexOf('/') + 1)
      case r if qualifiedPath.startsWith(r + "/") =>
        qualifiedPath.substring(r.length + 1)
    }.getOrElse(throw new IllegalStateException(
      s"streamed file $qualifiedPath is not under any read root " +
        s"(${rootsQ.mkString(", ")}) — partition values cannot be derived"))
    val kv = mutable.Map.empty[String, String]
    val segs = rel.split('/')
    var i = 0
    while (i < segs.length - 1) { // directory segments only, never the file
      val kvp = hiveSegment(segs(i))
      if (kvp != null) kv(kvp._1) = kvp._2
      i += 1
    }
    partCols.map {
      case FilePathCol => rel
      case c => kv.getOrElse(c, null)
    }.toArray
  }

  /** Recursively resolve the path option, deriving hive-style partition
    * columns (`k=v` directory segments) along the way — the 100 TB layout
    * (`date=2024-01-01/hour=03/part-*.json`) lists, prunes, and reads
    * without a metastore.
    */
  /** Catalog tables (`CREATE TABLE ... USING graft-json LOCATION ...`)
    * carry their storage root and options in TABLE PROPERTIES, while the
    * per-read options map can be empty — merge them under the read
    * options (read options win) so the scan sees one map either way.
    */
  def mergeTableProps(properties: java.util.Map[String, String],
      options: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    if (properties == null || properties.isEmpty) return options
    val merged = new java.util.HashMap[String, String](properties)
    merged.putAll(options.asCaseSensitiveMap())
    new CaseInsensitiveStringMap(merged)
  }

  def resolvePartitioned(options: CaseInsensitiveStringMap): Listing = {
    val conf = activeHadoopConf()
    // "path"/"paths" = DataFrame reader options; "location" = how the V2
    // catalog hands a `CREATE TABLE ... USING graft-json LOCATION '...'`
    // table its storage root (SQL-DDL surface, SqlDdlSpec).
    val raw = Option(options.get("path")).orElse(Option(options.get("paths")))
      .orElse(Option(options.get("location")))
      .getOrElse(throw new IllegalArgumentException("graft source requires a 'path' option"))
    val partCols = new mutable.LinkedHashSet[String]
    val files = Seq.newBuilder[(String, Long, mutable.LinkedHashMap[String, String])]

    def walk(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
        parts: mutable.LinkedHashMap[String, String]): Unit =
      fs.listStatus(dir).foreach { s =>
        val name = s.getPath.getName
        if (!hidden(name)) {
          if (s.isFile) files += ((s.getPath.toString, s.getLen, parts))
          else {
            val kvp = hiveSegment(name)
            val next =
              if (kvp != null) {
                partCols += kvp._1
                parts.clone().addOne(kvp)
              } else parts
            walk(fs, s.getPath, next)
          }
        }
      }

    val rootPaths = splitRootPaths(raw)
    val roots = rootPaths.map(_.toString)
    // ONE `.graft-log` listing per root for this whole resolution: the
    // log-first check, the snapshot fold, the latest-state masks and the
    // column-mapping schema read all look versions up through it
    val logs = mutable.HashMap.empty[String, GraftCommitLog.LogListing]
    def logOf(rootPath: Path): GraftCommitLog.LogListing =
      logs.getOrElseUpdate(rootPath.toString,
        new GraftCommitLog.LogListing(rootPath.getFileSystem(conf), rootPath))

    // ---- resolve the read MODE before any data-tree I/O: log-mediated
    // lanes never walk the directory tree at all ----
    var pinned = Option(options.get("versionasof")).map(_.trim).filter(_.nonEmpty)
    val since = Option(options.get("changessinceversion")).map(_.trim).filter(_.nonEmpty)
    require(pinned.isEmpty || since.isEmpty,
      "versionAsOf and changesSinceVersion are mutually exclusive")
    // option("timestampAsOf", epochMillis): resolve to the LATEST version
    // whose (monotonic-clamped) commit time is ≤ the timestamp, then pin
    // exactly like versionAsOf — out-of-range (before first / after
    // latest / expired) fails loudly in versionForTimestamp
    Option(options.get("timestampasof")).map(_.trim).filter(_.nonEmpty)
      .foreach { tstr =>
        require(pinned.isEmpty && since.isEmpty,
          "timestampAsOf is mutually exclusive with versionAsOf/changesSinceVersion")
        require(roots.length == 1,
          s"timestampAsOf needs exactly one root directory, got ${roots.length}")
        val millis =
          try tstr.toLong
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"timestampAsOf must be epoch millis, got '$tstr'") }
        val rootPath = new Path(roots.head)
        pinned = Some(GraftCommitLog.versionForTimestamp(
          rootPath.getFileSystem(conf), rootPath, millis).toString)
      }
    // option("snapshot","true"): the LATEST COMMITTED snapshot without
    // pinning a number. Since round 13 this is also the DEFAULT for
    // logged tables (below); the explicit option remains for callers who
    // want the loud no-log refusal.
    if (options.getBoolean("snapshot", false)) {
      require(pinned.isEmpty && since.isEmpty,
        "option(\"snapshot\") is redundant with versionAsOf/changesSinceVersion")
      require(roots.length == 1,
        s"snapshot needs exactly one root directory, got ${roots.length}")
      val vs = logOf(rootPaths.head).versions
      require(vs.nonEmpty,
        s"option(\"snapshot\"): no graft commit log under ${roots.head} " +
          "(only graft batch sinks write .graft-log)")
      pinned = Some(vs.max.toString)
    }
    val rawListing = options.getBoolean("rawlisting", false)
    require(!rawListing || (pinned.isEmpty && since.isEmpty),
      "option(\"rawlisting\") contradicts versionAsOf/timestampAsOf/" +
        "snapshot/changesSinceVersion — pick one read mode")
    val restrict = Option(options.get("restrictfiles")).map(_.trim).filter(_.nonEmpty)
    val withFile = options.getBoolean("withfilepath", false)
    // LOG-FIRST DEFAULT (Delta semantics, round 13): an option-free read
    // of a table that HAS a commit log reads its latest committed
    // snapshot — in-flight writers, rogue out-of-band copies, and
    // retained-retired originals are invisible, and planning never
    // recursively lists the tree (at 1M files the recursive list is the
    // FS-metadata bottleneck, and raw semantics differ from every other
    // logged format). Raw directory semantics stay available behind
    // option("rawlisting","true"). restrictFiles keeps its explicit
    // file-set contract (the COW rewrite lane) and never auto-pins.
    if (pinned.isEmpty && since.isEmpty && !rawListing && restrict.isEmpty &&
        roots.length == 1) {
      val rootPath = rootPaths.head
      val fs = rootPath.getFileSystem(conf)
      val isDir = try fs.getFileStatus(rootPath).isDirectory catch { case _: Exception => false }
      if (isDir) {
        val vs = logOf(rootPath).versions
        // a PARTIAL log (started by an append over a pre-log legacy
        // directory) does not cover every visible file: keep the raw walk
        // for it — TrainingData.adoptUnlogged upgrades the table
        if (vs.nonEmpty && !fs.exists(new Path(
            GraftCommitLog.logDir(rootPath), GraftCommitLog.PartialLogMarker)))
          pinned = Some(vs.max.toString)
      }
    }

    // data-file abs path -> (deletion-vector artifact abs path, rel target)
    var dvByPath = Map.empty[String, (String, String)]

    if (pinned.nonEmpty || since.nonEmpty) {
      // LOG-MEDIATED ENUMERATION (time travel / snapshot / the log-first
      // default): the file set comes from the log fold (checkpoint +
      // suffix), and the filesystem is consulted with ONE non-recursive
      // listStatus per directory that holds live files — for lengths and
      // the vacuumed-out-of-band check — so planning cost scales with the
      // LIVE set, never the tree. Strict both ways, as before: a live
      // file missing from its directory fails; files the log never
      // committed are simply never looked at.
      val optName = if (pinned.isDefined) "versionAsOf" else "changesSinceVersion"
      require(roots.length == 1,
        s"$optName needs exactly one root directory, got ${roots.length}")
      val vstr = pinned.orElse(since).get
      val version =
        try vstr.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$optName must be an integer, got '$vstr'") }
      val rootPath = rootPaths.head
      val fs = rootPath.getFileSystem(conf)
      require(fs.getFileStatus(rootPath).isDirectory,
        s"$optName applies to a graft-sink-written directory, not a single file")
      // pinned reads carry the deletion-vector state AS OF the pinned
      // version (versionAsOf before a DELETE shows the rows; after, the
      // vector masks them); changesSinceVersion refuses dv history inside
      // filesSince, so its file set is always vector-free
      val state: Map[String, String] =
        if (pinned.isDefined) GraftCommitLog.liveStateAsOf(logOf(rootPath), version)
        else GraftCommitLog.filesSince(fs, rootPath, version)
          .iterator.map(_ -> (null: String)).toMap
      val missing = Seq.newBuilder[String]
      state.keySet.toSeq.sorted
        .groupBy { r =>
          val i = r.lastIndexOf('/'); if (i < 0) "" else r.substring(0, i)
        }.toSeq.sortBy(_._1).foreach { case (d, inDir) =>
          val dirPath = if (d.isEmpty) rootPath else new Path(rootPath, d)
          val present: Map[String, (String, Long)] =
            try fs.listStatus(dirPath).iterator.filter(_.isFile)
              .map(st => st.getPath.getName -> (st.getPath.toString, st.getLen))
              .toMap
            catch { case _: java.io.FileNotFoundException => Map.empty }
          // hive partition values from the relative directory segments —
          // the same unescaping and null convention as the walk
          val parts = mutable.LinkedHashMap.from(dirPartitions(d))
          partCols ++= parts.keys
          inDir.foreach { r =>
            val name = r.substring(r.lastIndexOf('/') + 1)
            present.get(name) match {
              case Some((abs, len)) =>
                files += ((abs, len, parts))
                val dvn = state(r)
                if (dvn != null)
                  dvByPath += (abs ->
                    (DeletionVectors.artifactPath(rootPath, dvn).toString, r))
              case None =>
                // eventual-LISTING rail (round 15, lag-listing fake): a
                // log-referenced file absent from the prefix listing may
                // just not be listed YET — object stores with lagging
                // LIST still serve consistent point reads. Probe before
                // declaring the snapshot torn.
                val p = new Path(dirPath, name)
                val st = try Some(fs.getFileStatus(p))
                  catch { case _: java.io.FileNotFoundException => None }
                st match {
                  case Some(f) =>
                    files += ((f.getPath.toString, f.getLen, parts))
                    val dvn = state(r)
                    if (dvn != null)
                      dvByPath += (f.getPath.toString ->
                        (DeletionVectors.artifactPath(rootPath, dvn).toString, r))
                  case None => missing += r
                }
            }
          }
        }
      val miss = missing.result()
      require(miss.isEmpty,
        s"$optName=$version: selection references ${miss.size} missing file(s), " +
          s"e.g. ${miss.take(3).mkString(", ")} — was the directory vacuumed?")
    } else {
      // RAW LISTING (logless directories, multi-root reads, explicit
      // rawlisting, the restrictFiles maintenance lane): recursive walk
      rootPaths.foreach { path =>
        val fs = path.getFileSystem(conf)
        val status = fs.getFileStatus(path)
        if (status.isDirectory) walk(fs, path, mutable.LinkedHashMap.empty)
        else files += ((status.getPath.toString, status.getLen, mutable.LinkedHashMap.empty))
      }
    }
    val cols = partCols.toSeq
    var listed = files.result()
    // Unpinned raw-listing reads still apply the LATEST deletion vectors:
    // a deleted row must never resurface just because the reader didn't
    // pin a version. Zero overhead for tables that never used DVs (gated
    // on the hidden .graft-dv directory existing); rogue/retired files a
    // raw listing sees carry no vector and read whole — the documented
    // raw-listing caveat, same as retainHistory.
    if (pinned.isEmpty && since.isEmpty) roots.foreach { rp =>
      val rootPath = new Path(rp.stripPrefix("[\"").stripSuffix("\"]")
        .stripPrefix("\"").stripSuffix("\""))
      val fs = rootPath.getFileSystem(conf)
      val isDir = try fs.getFileStatus(rootPath).isDirectory catch { case _: Exception => false }
      if (isDir && fs.exists(new Path(rootPath, DeletionVectors.DirName))) {
        val vs = logOf(rootPath).versions
        if (vs.nonEmpty) {
          val state = GraftCommitLog.liveStateAsOf(logOf(rootPath), vs.max)
          val rootQ = fs.makeQualified(rootPath).toString
          listed.foreach { f =>
            val q = fs.makeQualified(new Path(f._1)).toString
            if (q.startsWith(rootQ)) {
              val r = q.substring(rootQ.length).stripPrefix("/")
              state.get(r).filter(_ != null).foreach { dvn =>
                dvByPath += (f._1 ->
                  (DeletionVectors.artifactPath(rootPath, dvn).toString, r))
              }
            }
          }
        }
      }
    }

    // COW-maintenance listing options (TrainingData.deleteWhere/updateWhere):
    // `restrictFiles` pins the listing to an explicit root-relative file set
    // (the rewrite job's "read only the candidate files"), and
    // `withFilePath` stamps each row's source file as a synthetic partition
    // column `_graft_file` — it rides the hive partition-value machinery, so
    // it projects, prunes, and constant-vectorizes like any partition column
    // (also a provenance column users can select directly).
    var allCols = cols
    if (restrict.isDefined || withFile) {
      require(roots.length == 1,
        s"restrictFiles/withFilePath need exactly one root directory, got ${roots.length}")
      val rootPath = new Path(roots.head
        .stripPrefix("[\"").stripSuffix("\"]").stripPrefix("\"").stripSuffix("\""))
      val fs = rootPath.getFileSystem(conf)
      val rootQ = fs.makeQualified(rootPath).toString
      def rel(p: String): String = {
        val q = fs.makeQualified(new Path(p)).toString
        if (q.startsWith(rootQ)) q.substring(rootQ.length).stripPrefix("/") else q
      }
      restrict.foreach { csvList =>
        val wanted = csvList.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val kept = listed.filter(f => wanted.contains(rel(f._1)))
        val missing = wanted -- kept.map(f => rel(f._1))
        require(missing.isEmpty,
          s"restrictFiles: ${missing.size} named file(s) absent from the listing, " +
            s"e.g. ${missing.take(3).mkString(", ")} — vacuumed or renamed out-of-band?")
        listed = kept
      }
      if (withFile) {
        require(!cols.contains(FilePathCol),
          s"withFilePath: the layout already has a partition column named $FilePathCol")
        allCols = cols :+ FilePathCol
        listed = listed.map { case (p, l, m) =>
          (p, l, m.clone().addOne(FilePathCol -> rel(p)))
        }
      }
    }

    // COLUMN MAPPING: the recorded schema AS OF the resolved version
    // names each logical column's physical key. STRICT read (like the
    // rest of the pinning machinery): silently losing the map would make
    // renamed columns read as null. One small log read for tracked
    // tables; zero extra I/O for unlogged directories.
    val recorded: Option[StructType] =
      if (roots.length != 1) None
      else {
        val rootPath = new Path(roots.head
          .stripPrefix("[\"").stripSuffix("\"]").stripPrefix("\"").stripSuffix("\""))
        val fs = rootPath.getFileSystem(conf)
        val isDir = try fs.getFileStatus(rootPath).isDirectory catch { case _: Exception => false }
        if (!isDir) None
        else {
          val vs = logOf(rootPath).versions
          if (vs.isEmpty) None
          else GraftCommitLog.schemaAsOfStrict(logOf(rootPath),
            pinned.map(_.toLong).getOrElse(vs.max))
        }
      }

    Listing(allCols, listed.map { case (p, l, m) =>
      val (dv, dvTarget) = dvByPath.getOrElse(p, (null, null))
      ListedFile(p, l, allCols.map(c => m.getOrElse(c, null)).toArray, dv, dvTarget)
    }, recorded.map(physicalMap).getOrElse(Map.empty),
      recorded.map(_.fields.map(physicalName).toSet).getOrElse(Set.empty))
  }

  /** Synthetic per-file provenance column surfaced by `withFilePath`. */
  final val FilePathCol = "_graft_file"

  /** Synthetic per-row ordinal surfaced by `option("withrowindex","true")`:
    * the row's 0-based position within its FILE, stamped by the row
    * readers — (file, index) addresses a row for as long as the file
    * lives (exact row provenance; the deletion-vector address space).
    * Reads force whole-file partitions (an ordinal needs the whole file's
    * order; block-recorded files still split on range-exact ordinals),
    * refuse non-fail badrecords modes (dropped rows would shift
    * ordinals), and skip aggregate pushdown. SkipRow plate filters STAY
    * ON (round 11): the plate counts the rows it drops and the readers
    * fold the count into the ordinal — provenance mode keeps the
    * byte-skip fast path and trades only the metadata-only answers.
    */
  final val RowIndexCol = "_graft_row_index"

  /** Synthetic change-type column of CDF reads (batch changeFeed and the
    * readchangefeed stream) — Delta's `_change_type` name.
    */
  final val ChangeTypeCol = "_change_type"

  /** `option("readchangefeed", "true")`: the streaming scan tails
    * row-level changes from the commit log instead of reading snapshots.
    */
  def readChangeFeed(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readchangefeed", false)

  /** Comma-join a root-relative file list for the `restrictfiles` /
    * `commitremoves` options. New writes %2C-escape ',' in partition
    * values, but a PRE-v2 layout already on disk may carry a literal
    * comma — such a path would split into garbage fragments and surface
    * as a misleading "vacuumed or renamed out-of-band?" error, so refuse
    * it with a targeted message instead.
    */
  def joinFileList(paths: Seq[String], optName: String): String = {
    paths.find(_.contains(',')).foreach { p =>
      throw new IllegalArgumentException(
        s"$optName: file path '$p' contains a literal ',' — a legacy partition " +
          "directory written before comma-escaping; COW maintenance cannot " +
          "address it safely. Rewrite the table to a fresh root (read + write) " +
          "so partition values re-render %2C-escaped, then retry.")
    }
    paths.mkString(",")
  }

  /** Root-relative files a COW rewrite's commit retires in the same log
    * entry as its adds (`option("commitremoves", "a.jsonl,b.jsonl")`).
    */
  def commitRemoves(options: java.util.Map[String, String]): Seq[String] =
    Option(options.get("commitremoves")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))

  /** Deletion-vector attachments riding a batch write's commit entry
    * (`option("commitdvs", "artifact>target,...")` +
    * `option("commitdvsbase", "target>artifactOrEmpty,...")`) — the
    * merge-on-read UPDATE shape: the appended files and the `d` masks
    * land in ONE atomic entry (two entries would expose a
    * duplicate-visibility window between them). Artifact names are
    * writer-generated uuids (no ',' or '>'); target paths with either
    * character are refused at join time (joinFileList + the '>' check
    * here).
    */
  def joinDvList(pairs: Seq[(String, String)], optName: String): String = {
    pairs.find(p => p._2.contains(',') || p._2.contains('>')).foreach { p =>
      throw new IllegalArgumentException(
        s"$optName: target path '${p._2}' contains ',' or '>' — COW " +
          "maintenance cannot address it safely; rewrite the table to a " +
          "fresh root so partition values re-render escaped, then retry")
    }
    pairs.map { case (a, t) => s"$a>$t" }.mkString(",")
  }

  /** Serialize the per-target merge-base map for `commitdvsbase`:
    * (target, prior-artifact-or-null) pairs.
    */
  def joinDvBase(base: Map[String, String], optName: String): String = {
    base.keys.find(t => t.contains(',') || t.contains('>')).foreach { t =>
      throw new IllegalArgumentException(
        s"$optName: target path '$t' contains ',' or '>' — see joinDvList")
    }
    base.toSeq.sortBy(_._1)
      .map { case (t, a) => s"$t>${if (a == null) "" else a}" }.mkString(",")
  }

  def commitDvs(options: java.util.Map[String, String]): Seq[(String, String)] =
    Option(options.get("commitdvs")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .map { s =>
        val i = s.indexOf('>')
        require(i > 0, s"commitdvs: malformed pair '$s'")
        (s.substring(0, i), s.substring(i + 1))
      }

  def commitDvBase(options: java.util.Map[String, String]): Map[String, String] =
    Option(options.get("commitdvsbase")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .map { s =>
        val i = s.indexOf('>')
        require(i > 0, s"commitdvsbase: malformed pair '$s'")
        (s.substring(0, i), if (i == s.length - 1) null else s.substring(i + 1))
      }.toMap

  /** The snapshot version a COW rewrite READ its candidates at
    * (`option("commitremovesversion", v)`) — the rewrite side of the
    * deletion-vector OCC: at commit time the removed files' dv state is
    * validated against this version, so a concurrent deleteWhereDV that
    * attached a vector AFTER the rewrite's read aborts the rewrite
    * (publishing it would resurrect the racer's deleted rows). -1 =
    * unset (manual commitremoves callers keep liveness-only validation).
    */
  def commitRemovesBase(options: java.util.Map[String, String]): Long =
    Option(options.get("commitremovesversion")).map(_.trim.toLong).getOrElse(-1L)

  /** Change-data files riding a batch write's commit entry
    * (`option("commitchangefiles", "delete>a.jsonl,update_preimage>b.jsonl")`,
    * (change type, name under `.graft-cdc/`) pairs): the Delta CDC-file
    * shape — a COW rewrite's row-level pre/post images, published in the
    * SAME atomic entry as the rewrite so changeFeed / streaming CDF can
    * express the commit instead of refusing. Joining is safe: both
    * halves are writer-generated (type enum + uuid names).
    */
  def commitChangeFiles(options: java.util.Map[String, String]): Seq[(String, String)] =
    Option(options.get("commitchangefiles")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .map { s =>
        val i = s.indexOf('>')
        require(i > 0, s"commitchangefiles: malformed pair '$s'")
        (s.substring(0, i), s.substring(i + 1))
      }

  /** Operation tag for the commit entry (`option("committag", "optimize")`,
    * the v6 `o` line): names the maintenance verb so changeFeed's
    * no-logical-change rail can skip OPTIMIZE / materializeDeletes
    * rewrites instead of demanding a full refresh.
    */
  def commitOpTag(options: java.util.Map[String, String]): String =
    Option(options.get("committag")).map(_.trim).filter(_.nonEmpty).orNull

  /** The commit-log-recorded table schema for a schemaless read —
    * authoritative when present (docs/TABLE_FORMAT.md "Schema tracking"):
    * types the writer declared (dates stay dates, ints stay ints) with
    * ZERO data bytes sampled, where inference reads a prefix of every
    * file. Honors `versionAsOf` (the schema as of the pinned version —
    * a column added later is absent from an older snapshot's reads);
    * `changesSinceVersion` and plain reads use the latest. Returned
    * nullable (missing keys read back as null, like spark.read.json).
    * None — and never an error — when the directory has no log, no `s`
    * lines, or `option("logschema","false")` opts back into sampling.
    */
  def logSchema(options: CaseInsensitiveStringMap): Option[StructType] = try {
    if (!options.getBoolean("logschema", true)) return None
    val raw = Option(options.get("path")).orElse(Option(options.get("paths")))
      .orElse(Option(options.get("location"))).getOrElse(return None)
    val roots = raw.split(",").map(_.trim).filter(_.nonEmpty)
    if (roots.length != 1) return None
    val root = new Path(roots.head
      .stripPrefix("[\"").stripSuffix("\"]").stripPrefix("\"").stripSuffix("\""))
    val fs = root.getFileSystem(activeHadoopConf())
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return None
    val vs = GraftCommitLog.versions(fs, root)
    if (vs.isEmpty) return None
    val upTo = Option(options.get("versionasof")).map(_.trim).filter(_.nonEmpty)
      .map(_.toLong).getOrElse(vs.max)
    GraftCommitLog.schemaAsOf(fs, root, upTo)
      .map(s => GraftSink.asNullableType(s).asInstanceOf[StructType])
  } catch { case _: Exception => None }

  /** Infer partition column types the way the built-in sources do: all
    * values integral → LongType, else all numeric → DoubleType, else
    * StringType.
    */
  def partitionSchema(listing: Listing): StructType = {
    def typeOf(col: Int): org.apache.spark.sql.types.DataType = {
      val vs = listing.files.map(_.partValues(col)).filter(_ != null)
      def all(p: String => Boolean) = vs.nonEmpty && vs.forall(p)
      if (all(v => scala.util.Try(v.toLong).isSuccess)) LongType
      else if (all(v => scala.util.Try(v.toDouble).isSuccess))
        org.apache.spark.sql.types.DoubleType
      else org.apache.spark.sql.types.StringType
    }
    StructType(listing.partCols.zipWithIndex.map { case (c, i) =>
      // the synthetic provenance column is always a string — a file named
      // "123.json" must not flip the column's type per layout
      val dt = if (c == FilePathCol) StringType else typeOf(i)
      StructField(c, dt, nullable = true)
    })
  }

  final val VariantMetadataKey = "__VARIANT_METADATA_KEY"

  /** Parse a pushed variant extraction path (`$`, `$.a.b`, …) into its
    * object-key segments; None for anything beyond plain dotted keys
    * (array indices, quoted/bracketed names, wildcards stay unpushed).
    */
  def variantPathSegments(meta: org.apache.spark.sql.types.Metadata): Option[Array[String]] = {
    if (!meta.contains(VariantMetadataKey)) return None
    val path = meta.getMetadata(VariantMetadataKey).getString("path")
    if (path == "$") Some(Array.empty)
    else if (path.startsWith("$.") && !path.exists(c => c == '[' || c == ']' ||
        c == '\'' || c == '"' || c == '*')) {
      val segs = path.substring(2).split('.')
      if (segs.nonEmpty && segs.forall(_.nonEmpty)) Some(segs) else None
    } else None
  }

  /** Build an explicit shredded-read schema: one VARIANT column per
    * requested path (`$`, `$.a.b`, …). Passing it to
    * `spark.read.format("graft-json").option("variant","true").schema(...)`
    * makes the reader parse ONLY those subtrees ([[PathVariantPlate]]),
    * byte-skipping everything else — sub-variant projection pushdown with
    * `variant_get`-identical results (missing path = null). Column names
    * are `v0..vN` in path order.
    */
  def shreddedSchema(paths: Seq[String]): StructType =
    StructType(paths.zipWithIndex.map { case (p, i) =>
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putMetadata(VariantMetadataKey, new org.apache.spark.sql.types.MetadataBuilder()
          .putString("path", p).build())
        .build()
      val f = StructField(s"v$i", org.apache.spark.sql.types.VariantType,
        nullable = true, metadata = meta)
      require(variantPathSegments(f.metadata).isDefined,
        s"unsupported shred path '$p' (only $$ and plain dotted object keys)")
      f
    })

  /** PERMISSIVE-mode corrupt-record column name (Spark's default name;
    * override with `option("corruptcolumn", ...)`).
    */
  def corruptColumn(options: CaseInsensitiveStringMap): String =
    options.getOrDefault("corruptcolumn", "_corrupt_record")

  /** `badrecords=keep` (or `permissive`): a corrupt record reads as a row
    * carrying its raw line in the [[corruptColumn]].
    */
  def keepMalformed(options: CaseInsensitiveStringMap): Boolean = {
    val bad = options.getOrDefault("badrecords", "fail")
    "keep".equalsIgnoreCase(bad) || "permissive".equalsIgnoreCase(bad)
  }

  /** Whether corrupt records leave the parse (`badrecords=drop`, or keep,
    * which re-emits them as corrupt rows).
    */
  def dropMalformed(options: CaseInsensitiveStringMap): Boolean =
    "drop".equalsIgnoreCase(options.getOrDefault("badrecords", "fail")) ||
      keepMalformed(options)

  def jsonMode(options: java.util.Map[String, String]): JsonParser.Mode =
    Option(options.get("mode")).map(_.toLowerCase).getOrElse("lines") match {
      case "lines" | "valuestream"  => JsonParser.ValueStream
      case "array" | "unwraparray"  => JsonParser.UnwrapArray
      case "single" | "singlevalue" => JsonParser.SingleValue
      case other => throw new IllegalArgumentException(s"unknown graft-json mode '$other'")
    }

  def csvConfig(options: java.util.Map[String, String]): CsvParser.Config = {
    def byteOpt(key: String, dflt: Byte): Byte =
      Option(options.get(key)).map(_.charAt(0).toByte).getOrElse(dflt)
    val lineSep = Option(options.get("linesep")).getOrElse("\n")
    val (r1, r2): (Byte, Byte) =
      if (lineSep.length == 2) (lineSep.charAt(0).toByte, lineSep.charAt(1).toByte)
      else (lineSep.charAt(0).toByte, 0.toByte)
    CsvParser.Config(
      header = Option(options.get("header")).forall(_.toBoolean),
      // "sep" (spark.read.csv's name) and "delimiter" (the sink's) alias
      record = Option(options.get("sep")).orElse(Option(options.get("delimiter")))
        .map(_.charAt(0).toByte).getOrElse(','.toByte),
      row1 = r1,
      row2 = r2,
      openQuote = byteOpt("quote", '"'),
      closeQuote = byteOpt("quote", '"'),
      escape = byteOpt("escape", '"'))
  }
}

/** Bytes a scan's parse skipped without tokenizing (SkipColumn, SkipRow).
  * Avro readers report 0: their projection skips fields inside the Avro
  * decoder, which counts no bytes.
  */
final class SkippedBytesMetric extends CustomSumMetric {
  override def name(): String = GraftSources.SkippedBytesMetricName
  override def description(): String = "bytes pruned by parser pushdown"
}

final case class GraftInputPartition(
    path: String,
    start: Long,
    end: Long, // exclusive byte-range end (rows realign executor-side)
    fileLen: Long,
    partValues: Array[String] = Array.empty,
    // typed hive-partition key (partCols order) — set only when the scan
    // reports KeyGroupedPartitioning; Spark consults it to group co-
    // partitioned splits for storage-partitioned joins
    partKey: InternalRow = null,
    // block-pruned range (sidecar `blk` lanes): the WRITER guaranteed
    // [start, end) are exact row boundaries, so the feeder starts with no
    // realignment and stops at `end` exactly — rows in skipped sibling
    // ranges are never parsed
    aligned: Boolean = false,
    // deletion vector: absolute artifact path + the file's root-relative
    // path (the artifact's recorded target, cross-checked at open). Set
    // only on whole-file partitions; the reader masks the listed ordinals.
    dv: String = null,
    dvTarget: String = null,
    // the range's first row's whole-file ORDINAL (derived from the
    // sidecar's exact per-block row counts): lets deletion-vector masks
    // and withRowIndex stamps stay exact over block-pruned ranges
    startOrd: Long = 0L,
    // inverse selection (the CDF streaming read): when set, the reader
    // KEEPS exactly the flattened [s,e) ordinal runs and drops everything
    // else (a Mask.keepOnly drop-complement); mutually exclusive with dv
    dvKeepRuns: Array[Long] = null)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = partKey
}

// ===================================================================== table

/** The one table of graft-json, graft-csv and graft-avro: reads through
  * [[GraftScanBuilder]], writes through the shared sink, and takes
  * `DELETE FROM <catalog table>` / `TRUNCATE` as merge-on-read deletion
  * vectors. The V2-level delete hooks are LOAD-BEARING — Spark's
  * SupportsDelete defaults convert V2 predicates to v1 filters with a
  * conversion that can silently NARROW a partially-convertible condition
  * (an under-delete); the strict renderer of [[GraftDeleteSupport]] also
  * expresses general scalar conditions (arithmetic, CASE) that v1 filters
  * cannot.
  */
final class GraftTable(
    format: GraftFormat,
    schema: StructType,
    partTransforms: Array[Transform],
    properties: java.util.Map[String, String])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  override def name(): String = s"${format.name}:${properties.get("path")}"
  override def schema(): StructType = schema
  // reporting the user's partitionBy transforms back is what admits a
  // partitioned write (Spark checks provided == table partitioning)
  override def partitioning(): Array[Transform] = partTransforms
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(format, schema, GraftSources.mergeTableProps(properties, options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    GraftSink.newWriteBuilder(info, properties, partTransforms)(
      format.encoding(info, partTransforms, _))

  private def tablePath: String =
    Option(properties.get("path")).orElse(Option(properties.get("location"))).orNull
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftDeleteSupport.canDelete(filters)
  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftDeleteSupport.deleteWhere(tablePath, schema, format.name, filters)
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    GraftDeleteSupport.canDeleteV2(predicates)
  override def deleteWhere(predicates: Array[Predicate]): Unit =
    GraftDeleteSupport.deleteWhereV2(tablePath, schema, format.name, predicates)
}

// ============================================================ scan machinery

final class GraftScanBuilder(
    format: GraftFormat,
    fullSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  // the pushed filters the plate decides exactly: Spark keeps no Filter
  // node for them, so the read schema must keep their columns
  private var exact: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var offset: Int = -1
  private var countStar = false
  private var aggSpec: Option[GraftAgg.Spec] = None
  private var topN: Array[(String, Boolean, Boolean)] = null // (col, asc, nullsFirst)
  private var topNLimit = -1
  // one listing resolution per read: the exactness rule and the offset,
  // TopN and aggregate pushdowns consult it, and the built GraftScan
  // takes it over. Deletion vectors never refuse a pushdown here: every
  // accepted path either wraps the mask-applying readers (TopN, offset,
  // parse-folded aggregates) or gates its metadata-only answers on the
  // PARTITION carrying no vector.
  private lazy val builderListing = GraftSources.resolvePartitioned(options)

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // `count(*) WHERE id > 5` requires no column, but the plate decides
    // `id > 5` only over a column it reads; Spark projects the wider
    // scan away
    val kept = exact.flatMap(_.references).distinct
      .filterNot(requiredSchema.fieldNames.contains).map(fullSchema(_))
    required = StructType(requiredSchema.fields ++ kept)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept single-column filters for file, block and partition pruning
    // and, where the format's reader takes them, byte-level SkipRow —
    // including dotted nested references that resolve through struct
    // fields. Only the filters the plate decides exactly leave Spark's
    // plan: with no Filter node above the scan, a new literal no longer
    // changes the stage's generated code. The rest stay residual (the
    // plate's eval of them is conservative, never dropping a row a
    // correct filter would keep).
    pushed = filters.filter(f =>
      f.references.length == 1 && {
        val ref = f.references.head
        !ref.contains(".") ||
          fullSchema.fieldNames.contains(ref) ||
          RowPlate.resolvePath(fullSchema, ref).isDefined
      })
    exact = exactFilters
    filters.filterNot(f => exact.exists(_ eq f))
  }

  /** The pushed filters whose plate verdict equals Spark's: the format's
    * reader takes filters and drops no corrupt record (`badrecords=fail`);
    * the column is a top-level data column the plate reads as the scan
    * outputs it ([[GraftScan.plateReads]], the rule that also picks the
    * plate's filters) and compares exactly ([[FilterEval.exactType]]);
    * and the filter is a null test, or a comparison or `In` with exact
    * non-null literals.
    */
  private def exactFilters: Array[Filter] = {
    import org.apache.spark.sql.sources._
    if (!format.filtersReachReader ||
        !"fail".equalsIgnoreCase(options.getOrDefault("badrecords", "fail")))
      return Array.empty
    def column(c: String) =
      if (c.contains(".") || !GraftScan.plateReads(builderListing, c)) None
      else fullSchema.find(_.name == c).map(_.dataType).filter(FilterEval.exactType)
    def compared(c: String, vs: Seq[Any]): Boolean = vs.nonEmpty &&
      column(c).exists(dt => vs.forall(FilterEval.exactLiteral(dt, _)))
    pushed.filter {
      case IsNull(c)                => column(c).isDefined
      case IsNotNull(c)             => column(c).isDefined
      case EqualTo(c, v)            => compared(c, Seq(v))
      case LessThan(c, v)           => compared(c, Seq(v))
      case LessThanOrEqual(c, v)    => compared(c, Seq(v))
      case GreaterThan(c, v)        => compared(c, Seq(v))
      case GreaterThanOrEqual(c, v) => compared(c, Seq(v))
      case In(c, vs)                => compared(c, vs.toSeq)
      case _                        => false
    }
  }

  override def pushedFilters(): Array[Filter] =
    if (format.filtersReachReader) pushed else Array.empty

  /** LIMIT n reaches the parser (the Terminate analog, SURVEY §2.5): each
    * partition stops parsing bytes once it has produced n rows. Partial
    * push — Spark still applies the global limit on top.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** OFFSET pushdown is COMPLETE (Spark deletes the Offset node), so it
    * is sound only when the scan is one partition in file order. We
    * accept a single listed file — planInputPartitions then pins it to a
    * single unsplit range — and refuse everything else (multi-file
    * listings have no global row order for an offset to be exact over;
    * Spark keeps the Offset itself). Inherently serial, like the
    * operator's semantics: a paginated reader wants one ordered stream.
    */
  override def pushOffset(n: Int): Boolean = {
    if (countStar || aggSpec.isDefined) return false
    // a pushed TopN reorders rows; a COMPLETE offset over it would apply
    // in file order — keep the mutual exclusion local (Spark never asks
    // for both today, but the invariant should not live in the planner)
    if (topN != null) return false
    // offsets over pushed filters are refused: no reader path has been
    // checked for them
    if (pushed.nonEmpty) return false
    if (builderListing.files.length != 1) return false
    // a deletion vector is fine: the wrapper trims the inner reader's
    // POST-mask stream, which is exactly the table's row order
    offset = n
    true
  }

  /** TopN pushdown is PARTIAL (isPartiallyPushed = true, Spark keeps the
    * global Sort + Limit): each partition drains through a bounded heap
    * and ships only its local best n rows — `ORDER BY x LIMIT n` over a
    * TB of files moves n rows per split instead of every row. Accepted
    * for single-column atomic sort keys; anything else stays unpushed.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (countStar || aggSpec.isDefined || offset >= 0) return false
    if (n <= 0 || n > (1 << 16)) return false // bounded per-task memory
    // deletion vectors are fine: the TopN heaps drain the row readers,
    // which emit post-mask rows
    GraftTopNReaderFactory.translateOrders(orders, fullSchema) match {
      case Some(spec)
          // column mapping: the TopN heaps compare against the PHYSICAL
          // parse schema — a renamed sort column stays unpushed (Spark's
          // own global sort still runs; correct, just not accelerated)
          if !spec.exists(t => builderListing.physMap.contains(t._1)) =>
        topN = spec
        topNLimit = n
        true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  /** Aggregate pushdown (always PARTIAL — Spark plans the merging final
    * aggregate, so multi-split parallelism is preserved):
    *
    *   - A lone ungrouped COUNT(*) becomes a parse-only scan: every
    *     partition byte-skips all values (SkipAllCountPlate) and answers
    *     with one partial-count row that Spark sums — the DSv2 form of
    *     the row-count harness (SURVEY §2.7).
    *   - Any other grouped/ungrouped battery of MIN / MAX / COUNT(col) /
    *     COUNT(*) over atomic top-level columns folds inside the scan
    *     ([[GraftAgg]]): only the referenced columns are parsed, one
    *     partial row per group per partition ships out.
    *
    * Spark only attempts this when no residual filter remains, which
    * includes reads whose filters are all exact. Those are refused: the
    * count-only, metadata-only and pruned parses decide no pushed filter,
    * so the rows they fold would ignore it. PERMISSIVE mode keeps the
    * COUNT(*) fast path (which counts corrupt rows explicitly) but refuses the
    * general battery — a corrupt record's null-filled row cannot be
    * reproduced from the pruned parse. Drop mode is fine for both: the
    * inner pruned reader drops exactly the rows the full scan would.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = false
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pushed.nonEmpty) return false
    // the row-index column is stamped by the ROW readers; the pruned
    // aggregate parse would fold nulls in its place
    if (options.getBoolean("withrowindex", false)) return false
    // deletion vectors are fine here: metadata-only answers gate on the
    // partition carrying no vector (GraftAggReaderFactory / the count
    // reader's mask subtraction); the parse paths fold post-mask rows
    val fs = agg.aggregateExpressions
    val bad = options.getOrDefault("badrecords", "fail")
    // DROPMALFORMED (round 20): rows with conversion failures drop at the
    // full parse — a count-only or pruned-parse battery cannot see them
    if ("drop".equalsIgnoreCase(bad)) return false
    if (agg.groupByExpressions.isEmpty && fs.length == 1 && fs(0).isInstanceOf[CountStar]) {
      countStar = true
      return true
    }
    if ("keep".equalsIgnoreCase(bad) || "permissive".equalsIgnoreCase(bad)) return false
    GraftAgg.translate(agg, fullSchema) match {
      case Some(s) =>
        // column mapping: the pruned parse and sidecar lookups key on
        // PHYSICAL names — a battery touching a renamed column stays
        // unpushed (Spark aggregates the full scan; correct, unaccelerated)
        if (s.parseSchema(fullSchema).fieldNames.exists(
            builderListing.physMap.contains)) return false
        aggSpec = Some(s); true
      case None => false
    }
  }

  /** Sub-variant extraction pushdown (variant shredding for the open-typed
    * mode): `variant_get(value, '$.a.b')` with a VARIANT target becomes a
    * shredded scan column, and the reader parses ONLY the requested
    * subtrees, byte-skipping the rest ([[PathVariantPlate]]). Restricted
    * to VariantType targets over plain object-key paths — subtree capture
    * has no cast semantics, so the result is exactly `variant_get`'s;
    * typed targets keep evaluating from the `$` fallback column Spark
    * pushes alongside.
    */
  // NOTE: SupportsPushDownVariantExtractions deliberately NOT implemented.
  // Empirically (this Spark build), once a V2 ScanBuilder exposes the
  // interface the planner's rewrite breaks regardless of the answers —
  // all-false still hits RequestedVariantField mapping lookups and
  // full acceptance leaves unresolved attributes in the rewritten plan.
  // Sub-variant shredding is offered instead via an EXPLICIT metadata-
  // tagged schema (see PathVariantPlate / GraftSources.shreddedSchema),
  // which keeps the broken rule out of the loop.



  override def build(): Scan =
    new GraftScan(format, required, pushed, options, builderListing, limit, countStar,
      fullSchema = fullSchema, aggSpec = aggSpec, offset = offset,
      topN = topN, topNLimit = topNLimit)
}

final class GraftScan(
    format: GraftFormat,
    schema: StructType,
    filters: Array[Filter],
    options: CaseInsensitiveStringMap,
    // the builder's listing, resolved on first use
    resolvedListing: => GraftSources.Listing,
    limit: Int = -1,
    countStar: Boolean = false,
    fullSchema: StructType = StructType(Nil),
    aggSpec: Option[GraftAgg.Spec] = None,
    offset: Int = -1,
    topN: Array[(String, Boolean, Boolean)] = null,
    topNLimit: Int = -1)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType =
    if (countStar) GraftScan.CountSchema
    else aggSpec.map(_.outputSchema).getOrElse(schema)

  // ---- runtime filtering: DSv2 dynamic partition pruning, extended to
  // DATA columns. Spark feeds the build side's join-key values (an In
  // filter) into the scan at EXECUTION time; files that definitely hold
  // no matching rows are dropped before any task launches. Partition
  // columns prune on the directory value (classic DPP); stats-eligible
  // data columns prune through the sidecar min/max AND bloom — dynamic
  // FILE pruning, the Delta/Iceberg trick that turns "join 100 TB of
  // facts against this week's dims" into "read the handful of files
  // whose key ranges/blooms admit the dim keys". Files without sidecars
  // are always kept, so this is purely subtractive.
  private var runtimeFilters: Array[Filter] = Array.empty

  /** Top-level atomic columns of the read schema — the kinds the sidecar
    * stats track and FilterEval can evaluate (partition columns excluded:
    * they prune on the directory value, not the sidecar).
    */
  private lazy val statsEligibleCols: Set[String] = {
    import org.apache.spark.sql.types._
    schema.fields.collect {
      case f if (f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | StringType | BooleanType | _: DecimalType => true
        case _ => false
      }) => f.name
    }.toSet -- listing.partCols
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns the (pruned) scan still OUTPUTS: Spark resolves these
    // against the scan relation, so advertising a projected-away
    // partition column crashes DPP planning (seen under a semi join that
    // needs no partition columns)
    val out = readSchema().fieldNames.toSet
    (listing.partCols.filter(out) ++ statsEligibleCols.toSeq.sorted.filter(out))
      .distinct.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray
  }

  override def filter(fs: Array[Filter]): Unit =
    runtimeFilters = fs.filter(f =>
      f.references.length == 1 &&
        (listing.partCols.contains(f.references.head) ||
         statsEligibleCols.contains(f.references.head)))

  // ---- planning statistics: the (partition-pruned) byte size of the
  // listing, so Catalyst's join strategy sees a honest size for graft
  // scans (a pruned date partition broadcast-joins instead of SMJ-ing).
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      // compressed sizes: scale by the standard
      // spark.sql.sources.fileCompressionFactor so join strategy sees an
      // honest decompressed estimate
      private val factor =
        SparkSession.active.sessionState.conf.fileCompressionFactor
      private val bytes = prunedFiles.map { f =>
        if (GraftSources.isCompressed(f.path)) (f.len * factor).toLong else f.len
      }.sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  override def toBatch: Batch = this

  // ---- reported partitioning: the hive layout IS a physical clustering
  // on the partition columns, so the scan reports KeyGroupedPartitioning
  // over them (each split carries its typed directory key). With
  // spark.sql.sources.v2.bucketing.enabled, Spark then groups splits by
  // key and plans joins/aggregations on the partition columns WITHOUT a
  // shuffle — the storage-partitioned-join shape: at 100 TB, two corpora
  // partitioned by the same key merge-join file-against-file, and a
  // group-by on the partition key aggregates in place. Guarded by the
  // same conf Spark itself requires, so default behavior is unchanged.
  private def v2BucketingOn: Boolean =
    try SparkSession.active.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    catch { case _: Exception => false }

  /** Typed key row for a file's partition values (partCols order); null
    * when any value fails to convert — then partitioning is not reported.
    */
  private def typedPartKey(pv: Array[String]): InternalRow = {
    if (pv.length != listing.partCols.length) return null
    val vals = new Array[Any](pv.length)
    var i = 0
    while (i < pv.length) {
      if (pv(i) == null) return null // null partition: refuse, stay unknown
      val v = Conversions.fromString(partTypes(listing.partCols(i)), pv(i))
      if (v == null) return null
      vals(i) = v
      i += 1
    }
    new GenericInternalRow(vals)
  }

  private def canReportPartitioning(files: Seq[GraftSources.ListedFile]): Boolean =
    listing.partCols.nonEmpty && v2BucketingOn && files.nonEmpty &&
      // the clustering expressions must resolve against the scan OUTPUT:
      // a projection that drops a partition column drops the claim
      listing.partCols.forall(c => schema.fieldNames.contains(c)) &&
      files.forall(f => typedPartKey(f.partValues) != null)

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val pf = prunedFiles
    if (canReportPartitioning(pf)) {
      val distinctKeys = pf.map(_.partValues.toSeq).distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        listing.partCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]).toArray,
        distinctKeys)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  // ---- reported ordering: partition columns are CONSTANT within every
  // input partition (trivially sorted), and a data column whose sidecars
  // all carry the write-order `sorted` flag extends the lexicographic
  // prefix — so scans over sorted sink output expose ASC NULLS FIRST
  // per-partition ordering and Spark elides the local sorts that
  // merge-joins and sort-based operators would otherwise insert.
  // Conservative by construction: any file without a trusted sidecar, or
  // any unsorted column, drops the claim (wrong ordering would mean wrong
  // results, so absence of evidence reports nothing).
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, NullOrdering}
    if (!options.getBoolean("reportordering", true)) return Array.empty
    if (aggSpec.isDefined || countStar || topN != null) return Array.empty
    val pf = prunedFiles
    if (pf.isEmpty) return Array.empty
    def asc(c: String) = Expressions.sort(
      Expressions.column(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)
    val partOrd: Seq[String] =
      if (listing.partCols.nonEmpty &&
          // sort expressions must resolve against the scan output
          listing.partCols.forall(c => schema.fieldNames.contains(c)) &&
          pf.forall(_.partValues.length == listing.partCols.length))
        listing.partCols
      else Nil
    // first schema column sorted in EVERY file (sidecar-attested); the
    // probe short-circuits on the first sidecar-less file so stats-less
    // listings pay one existence check, not one per file
    val dataOrd: Option[String] = {
      var stats = List.empty[FileStats.Stats]
      var covered = true
      val it = pf.iterator
      while (covered && it.hasNext) {
        val f = it.next()
        sidecarStats(f.path, f.len) match {
          case Some(s) => stats ::= s
          case None => covered = false
        }
      }
      if (!covered) None
      else schema.fields.iterator.map(_.name)
        .filterNot(listing.partCols.contains)
        .find(c => stats.forall(_.cols.get(physName(c)).exists(_.sorted)))
    }
    (partOrd ++ dataOrd.toSeq).map(asc).toArray
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // per-file PARTITION VALUES ride the stream (round 11): admission is
    // whole-file (or whole-segment), so each admitted file's hive k=v
    // values — and withFilePath's synthetic provenance — derive from its
    // path exactly like the batch listing's walk; the readers stamp them
    // through the same partSpec machinery. Partition columns keep
    // LOGICAL names (they are synthetic, never in data files).
    val cdf = GraftSources.readChangeFeed(options)
    val streamPartCols = listing.partCols ++
      (if (cdf) Seq(GraftSources.ChangeTypeCol) else Nil)
    // column mapping: streaming readers parse PHYSICAL keys too (rows
    // are positional); renamed-column filters stay residual-only.
    // Partition-column filters are planning/residual concerns — the
    // plate must not see them (the column is null until stamped).
    val streamSchema = physical(schema, streamPartCols.toSet)
    val streamFilters = filters
      .filterNot(_.references.exists(physMap.contains))
      .filterNot(_.references.exists(streamPartCols.contains))
    val factory = format.streamReaderFactory(ReadSpec(options,
      GraftSources.broadcastHadoopConf(), streamSchema, streamFilters,
      GraftSources.partSpecFor(streamSchema, streamPartCols), listing.recordedCols))
    if (cdf) {
      // the change-type column rides the partition-value machinery: the
      // CDF stream appends 'insert'/'delete' to each partition's values
      require(streamSchema.fieldNames.contains(GraftSources.ChangeTypeCol),
        s"readChangeFeed: the schema must include the synthetic " +
          s"'${GraftSources.ChangeTypeCol} STRING' column (or omit the " +
          "schema to take the table's recorded one)")
      return new GraftCdfMicroBatchStream(options, checkpointLocation, factory,
        listing.partCols)
    }
    format.microBatchStream(options, checkpointLocation, factory, streamPartCols)
  }

  /** `s` with renamed data columns under their PHYSICAL keys (column
    * mapping: data files and their stats carry physical names). Columns
    * in `synthetic` are never in data files and keep their names.
    */
  private def physical(s: StructType, synthetic: Set[String]): StructType =
    if (physMap.isEmpty) s
    else StructType(s.fields.map(f =>
      if (synthetic.contains(f.name)) f
      else physMap.get(f.name).map(ph => f.copy(name = ph)).getOrElse(f)))

  override def description(): String =
    s"GraftScan(${format.name}, columns=${schema.fieldNames.mkString(",")}," +
      s" pushed=[${filters.mkString(", ")}]" +
      (if (limit >= 0) s", limit=$limit" else "") +
      (if (offset >= 0) s", offset=$offset" else "") +
      (if (countStar) ", countStar (count-only)" else "") +
      (if (topN != null && topNLimit > 0)
        s", topN=$topNLimit, topN=[${topN.map { case (c, asc, nf) =>
          s"$c ${if (asc) "ASC" else "DESC"} ${if (nf) "NULLS FIRST" else "NULLS LAST"}"
        }.mkString(", ")} LIMIT $topNLimit]"
      else "") +
      aggSpec.map(s => s", pushedAgg=[$s]").getOrElse("") + ")"

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new SkippedBytesMetric)

  // driver-side partition discovery, shared by planning and the factory
  private lazy val listing = resolvedListing
  // column mapping (ALTER RENAME): logical -> physical for sidecar-stats /
  // bloom / block lookups and the parse-side schemas (data files and
  // their stats carry PHYSICAL keys)
  private lazy val physMap: Map[String, String] = listing.physMap
  @inline private def physName(n: String): String = physMap.getOrElse(n, n)
  // the data part of the table schema, physical names in order — what a
  // CSV range past byte 0 maps cells by (it cannot re-read the header row)
  private lazy val dataCols: Seq[String] =
    fullSchema.fieldNames.toSeq.filterNot(listing.partCols.contains).map(physName)
  private lazy val partTypes: Map[String, org.apache.spark.sql.types.DataType] = {
    val inferred = GraftSources.partitionSchema(listing)
    // the required schema's type wins (user-supplied schemas may retype)
    listing.partCols.map { c =>
      c -> schema.find(_.name == c).map(_.dataType)
        .orElse(inferred.find(_.name == c).map(_.dataType))
        .getOrElse(org.apache.spark.sql.types.StringType)
    }.toMap
  }

  /** Hive-style partition pruning: a pushed filter on a partition column
    * that DEFINITELY fails for a file's partition value drops the whole
    * file at planning time — no task, no bytes (FilterEval is
    * conservative, so exactness is preserved by the residual).
    */
  private def prunedFiles: Seq[GraftSources.ListedFile] =
    statsPruned(partitionPruned)

  private def partitionPruned: Seq[GraftSources.ListedFile] = {
    val allFilters = filters ++ runtimeFilters
    if (listing.partCols.isEmpty || allFilters.isEmpty) return listing.files
    val partIdx = listing.partCols.zipWithIndex.toMap
    val relevant = FilterEval.normalize(allFilters.filter(f =>
      f.references.length == 1 && partIdx.contains(f.references.head)))
    if (relevant.isEmpty) return listing.files
    listing.files.filterNot { f =>
      relevant.exists { flt =>
        val col = flt.references.head
        val raw = f.partValues(partIdx(col))
        val typed = if (raw == null) null
          else Conversions.fromString(partTypes(col), raw)
        FilterEval.definitelyFails(flt, typed)
      }
    }
  }

  /** Stats-sidecar data skipping: a pushed single-column filter whose
    * value range cannot intersect a file's recorded [min, max] (or whose
    * null demands its null counts rule out) drops the file at planning
    * time. Sidecars are written by the graft sinks; files without one are
    * kept. Conservative by construction (FilterEval.definitelyEmpty), so
    * exactness is preserved even though dropped files have no residual.
    */
  private val statsCache =
    scala.collection.mutable.HashMap.empty[String, Option[FileStats.Stats]]
  // one manifest read per DIRECTORY (not per file): the compacted stats
  // written by the batch sinks' driver-side commit
  private val manifestCache =
    scala.collection.mutable.HashMap.empty[String, Option[Map[String, FileStats.Stats]]]
  private def manifestStats(parent: Path): Option[Map[String, FileStats.Stats]] =
    manifestCache.getOrElseUpdate(parent.toString,
      FileStats.loadManifest(
        parent.getFileSystem(GraftSources.activeHadoopConf()), parent))
  private def sidecarStats(path: String, listedLen: Long): Option[FileStats.Stats] =
    statsCache.getOrElseUpdate(path, {
      val p = new Path(path)
      // manifest first (amortized one read per dir, validated against the
      // LISTING length — no per-file RPC); per-file sidecar as fallback.
      // The fallback read is COMPLETE (blooms + blocks included), so it
      // also populates fileSidecarCache — the bloom and block consumers
      // must never pay a second read for the same sidecar
      manifestStats(p.getParent)
        .flatMap(_.get(p.getName))
        .filter(st => st.dataLen >= 0 && st.dataLen == listedLen)
        .orElse {
          val loaded =
            FileStats.load(p.getFileSystem(GraftSources.activeHadoopConf()), p)
          fileSidecarCache.put(path, loaded)
          loaded
        }
    })
  // blooms live ONLY in per-file sidecars (the manifest strips them to
  // stay a small read); this cache pays that one extra read lazily —
  // only for equality-shaped filters, only for files the ranges kept
  private val fileSidecarCache =
    scala.collection.mutable.HashMap.empty[String, Option[FileStats.Stats]]
  private def bloomColStats(path: String, colName: String)
      : Option[FileStats.ColStats] = {
    // a manifest-less listing already served the per-file sidecar (with
    // blooms) through sidecarStats; reuse it before reading again
    statsCache.get(path).flatten.flatMap(_.cols.get(colName))
      .filter(_.bloom != null)
      .orElse {
        val p = new Path(path)
        fileSidecarCache.getOrElseUpdate(path,
          FileStats.load(p.getFileSystem(GraftSources.activeHadoopConf()), p))
          .flatMap(_.cols.get(colName)).filter(_.bloom != null)
      }
  }
  private def statsPruned(files: Seq[GraftSources.ListedFile])
      : Seq[GraftSources.ListedFile] = {
    if (!options.getBoolean("dataskipping", true)) return files
    // runtime filters participate: a join's key In-set arriving at
    // execution time prunes data files exactly like a static pushed
    // filter would (planInputPartitions re-runs this after filter())
    val dataFilters = FilterEval.normalize((filters ++ runtimeFilters).filter(f =>
      f.references.length == 1 && !listing.partCols.contains(f.references.head)))
    if (dataFilters.isEmpty) return files
    val kept = files.filterNot { f =>
      sidecarStats(f.path, f.len).exists { st =>
        dataFilters.exists { flt =>
          val colName = physName(flt.references.head)
          st.cols.get(colName).exists(c =>
            FilterEval.definitelyEmpty(flt, c.min, c.max, c.nulls, st.rows)) ||
            // point lookups the ranges kept: one lazy per-file sidecar
            // read for the bloom (manifests are bloom-less by design)
            (FileStats.bloomEligible(flt) &&
              bloomColStats(f.path, colName).exists(FileStats.bloomExcludes(_, flt)))
        }
      }
    }
    GraftScan.lastStatsPruned.set(files.length - kept.length)
    kept
  }

  // exact row provenance (option("withrowindex","true")): ordinals are
  // stable only over whole files in strict mode
  private val withRowIndex = options.getBoolean("withrowindex", false)
  require(!withRowIndex ||
      "fail".equalsIgnoreCase(options.getOrDefault("badrecords", "fail")),
    "withRowIndex requires badrecords=fail: dropped/captured corrupt rows " +
      "would shift every later row's ordinal")
  // deletion vectors mask whole-file ordinals — the same strictness
  // applies (a dropped corrupt row would shift the mask's addresses)
  private lazy val anyDv = listing.files.exists(_.dv != null)

  override def planInputPartitions(): Array[InputPartition] = {
    val pf = prunedFiles
    require(!anyDv ||
        "fail".equalsIgnoreCase(options.getOrDefault("badrecords", "fail")),
      "this snapshot carries deletion vectors, which address exact row " +
        "ordinals — badrecords=fail is required (dropped/captured corrupt " +
        "rows would shift the mask)")
    // a DELETE landing between pushdown and planning is fine: every
    // pushed fast path applies the mask per-partition (TopN/offset/agg
    // wrap the masking readers; metadata-only answers and the pruned
    // COUNT parse gate on part.dv == null / subtract the mask)
    if (runtimeFilters.nonEmpty) // observability for tests / debugging
      GraftScan.lastRuntimePruned.set(listing.files.length - pf.length)
    val maxSplit = Option(options.get("maxsplitbytes")).map(_.toLong)
      .getOrElse(format.defaultSplitBytes)
    val splittable = format.splitsOnOffsets(options)
    // a pushed COUNT(*) or metadata-eligible aggregate battery keeps a
    // file whole WHEN its sidecar exists, so the reader answers from
    // metadata without reading data bytes; sidecar-less files still split
    // for parse parallelism
    val metaAggCandidate =
      (countStar ||
        aggSpec.exists(GraftAggMeta.eligible(_, listing.partCols.toSet))) &&
        options.getBoolean("dataskipping", true) &&
        "fail".equalsIgnoreCase(options.getOrDefault("badrecords", "fail"))
    // storage-partitioned reads: stamp each split's typed directory key
    // so Spark can group co-partitioned splits (HasPartitionKey)
    val stampKeys = canReportPartitioning(pf)

    // Intra-file BLOCK skipping (sidecar `blk` lanes — the parquet
    // row-group analog): with pushed data filters and writer-recorded
    // blocks, plan only the byte ranges whose block stats may match. The
    // writer guaranteed block boundaries are exact row starts, so the
    // surviving ranges read with no realignment and stop exactly — rows
    // in pruned blocks are never parsed; the format says where its
    // blocks read right as ranges. One dial for EVERY consumer of
    // recorded block boundaries — pruning AND the masked-file parallelism
    // split below. dataskipping=false means "don't trust sidecars"; a
    // split derived from a stale sidecar's boundaries is as wrong as a
    // prune, so it honors the same opt-out.
    val blockLanesUsable: Boolean =
      options.getBoolean("dataskipping", true) && format.blockLanesUsable(options)
    val blockFilters: Array[Filter] =
      if (!blockLanesUsable) Array.empty
      else FilterEval.normalize((filters ++ runtimeFilters).filter(f =>
        f.references.length == 1 && !listing.partCols.contains(f.references.head)))
    var blocksPruned = 0
    // `needOrdinals`: the caller will derive each range's STARTING ROW
    // ORDINAL from the preceding blocks' exact row counts (deletion-vector
    // masks and withRowIndex address whole-file ordinals) — engage only
    // when the block row counts provably sum to the file's row count.
    // `splitWhenUnpruned`: when pruning keeps every block (or no filters
    // pushed at all), still return block-aligned ranges covering the whole
    // file, chopped at maxSplit, purely for task parallelism (how masked/
    // row-indexed files split without byte-offset realignment, which would
    // lose their ordinal base).
    def blockRanges(p: String, len: Long, needOrdinals: Boolean,
        splitWhenUnpruned: Boolean = false): Option[Seq[(Long, Long, Long)]] = {
      if (!blockLanesUsable) return None
      if (blockFilters.isEmpty && !splitWhenUnpruned) return None
      // manifests are BLOCK-LESS by design (the one-small-read-per-
      // directory invariant) — blocks come from the per-file sidecar,
      // read lazily only for files file-level pruning kept and only when
      // filters push (the same deal the blooms get). fileSidecarCache
      // holds every per-file sidecar ever read this scan (including
      // sidecarStats' manifest-miss fallback), so block-less there means
      // block-less — never a second read
      val st = statsCache.get(p).flatten.filter(_.blocks.nonEmpty)
        .orElse {
          val path = new Path(p)
          fileSidecarCache.getOrElseUpdate(p,
            FileStats.load(path.getFileSystem(GraftSources.activeHadoopConf()), path))
        }
      if (!st.exists(format.blocksUsable(_, dataCols))) return None
      val blocks = st.map(_.validBlocks(len)).getOrElse(Nil)
      if (blocks.isEmpty) return None
      if (needOrdinals && blocks.iterator.map(_.rows).sum != st.get.rows)
        return None // inconsistent recording: ordinals would be wrong
      // each block's starting ordinal = the exact rows before it
      val startOrds = blocks.scanLeft(0L)(_ + _.rows)
      val surviving = blocks.zip(startOrds).filterNot { case (b, _) =>
        blockFilters.exists { flt =>
          b.cols.get(physName(flt.references.head)).exists(c =>
            FilterEval.definitelyEmpty(flt, c.min, c.max, c.nulls, b.rows))
        }
      }
      if (surviving.length == blocks.length && !splitWhenUnpruned)
        return None // nothing pruned
      blocksPruned += blocks.length - surviving.length
      // merge contiguous survivors into runs, chopped near maxSplit so a
      // big surviving region still parallelizes across tasks
      val runs = Seq.newBuilder[(Long, Long, Long)]
      var rs = -1L
      var re = -1L
      var ro = 0L
      surviving.foreach { case (b, ord) =>
        if (re == b.start && re - rs < maxSplit) re = b.end
        else {
          if (rs >= 0) runs += ((rs, re, ro))
          rs = b.start; re = b.end; ro = ord
        }
      }
      if (rs >= 0) runs += ((rs, re, ro))
      Some(runs.result())
    }

    val parts: Array[InputPartition] = pf.flatMap[InputPartition] {
      case GraftSources.ListedFile(p, len, pv, dv, dvTarget) =>
      val key = if (stampKeys) typedPartKey(pv) else null
      // a deletion vector masks whole-file ordinals, and withRowIndex
      // stamps them: both still BLOCK-SKIP when the sidecar's exact
      // per-block row counts derive each surviving range's starting
      // ordinal (blocks tile the file, counts sum to the file's rows —
      // both provable from the recording), and both still SPLIT for task
      // parallelism on those same block boundaries when nothing prunes —
      // a big masked file must not serialize into one task. Pushed
      // COUNT(*) stays whole (mask cardinality subtracts from whole-file
      // counts only) and so do aggregate batteries (their per-partition
      // fold contract is per-file). Without usable blocks — or under a
      // pushed COMPLETE offset, which needs one in-order partition — the
      // file reads whole.
      if (dv != null || withRowIndex) {
        val ranges =
          if (offset >= 0 || GraftSources.isCompressed(p)) None
          else blockRanges(p, len, needOrdinals = true, splitWhenUnpruned =
            len > maxSplit && !countStar && aggSpec.isEmpty)
        ranges match {
          case Some(rs) => rs.map { case (s0, e0, ord) =>
            GraftInputPartition(p, s0, e0, len, pv, key, aligned = true,
              dv = dv, dvTarget = dvTarget, startOrd = ord)
          }
          case None =>
            Seq(GraftSources.wholeFilePartition(p, len, pv)
              .copy(partKey = key, dv = dv, dvTarget = dvTarget))
        }
      }
      // a pushed OFFSET requires one partition in file order (the builder
      // already guaranteed a single file; never split it); compressed
      // members are inherently unsplittable
      else if (GraftSources.isCompressed(p))
        Seq(GraftSources.wholeFilePartition(p, len, pv).copy(partKey = key))
      else if (offset >= 0 ||
          (metaAggCandidate && sidecarStats(p, len).isDefined))
        Seq(GraftInputPartition(p, 0, len, len, pv, key))
      else blockRanges(p, len, needOrdinals = false) match {
        case Some(rs) => rs.map { case (s0, e0, _) =>
          GraftInputPartition(p, s0, e0, len, pv, key, aligned = true)
        }
        case None =>
          if (!splittable || len <= maxSplit)
            Seq(GraftInputPartition(p, 0, len, len, pv, key))
          else
            (0L until len by maxSplit).map { start =>
              GraftInputPartition(p, start, math.min(start + maxSplit, len), len, pv, key)
            }
      }
    }.toArray
    GraftScan.lastBlocksPruned.set(blocksPruned)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = GraftSources.broadcastHadoopConf()
    // with a pushed aggregate battery the row readers parse only the
    // referenced columns; the aggregating wrapper folds their rows
    val rowSchema = aggSpec.map(_.parseSchema(fullSchema)).getOrElse(schema)
    // required-schema slots served from hive-style partition values
    val partSpec = GraftSources.partSpecFor(rowSchema, listing.partCols)
    // partition, renamed and row-index columns are not what the plate
    // reads ([[GraftScan.plateReads]]); their filters prune files or stay
    // residual. Row-index / masked modes KEEP plate filters (round 11):
    // the plate counts the rows it drops and the readers fold the count
    // into their ordinal accounting, so SkipRow byte-skip composes with
    // provenance and deletion masks.
    val plateFilters =
      filters.filter(_.references.forall(GraftScan.plateReads(listing, _)))
    val rowIdxSlot =
      if (withRowIndex) rowSchema.fieldNames.indexOf(GraftSources.RowIndexCol)
      else -1
    // column mapping: plates, CSV headers and avro reader schemas match
    // PHYSICAL keys; rows are positional, so Spark still sees the logical
    // readSchema
    val spec = ReadSpec(options, conf,
      physical(rowSchema, listing.partCols.toSet + GraftSources.RowIndexCol), plateFilters,
      partSpec, listing.recordedCols, dataCols.toArray, limit, rowIdxSlot)
    if (countStar) format.countReaderFactory(spec)
    else {
      val rowFactory = format.rowReaderFactory(spec)
      aggSpec match {
        case Some(agg) =>
          new GraftAggReaderFactory(rowFactory, rowSchema, agg,
            maxGroups = options.getInt("aggmaxgroups", 1 << 16),
            conf = conf,
            metadataOk = !GraftSources.dropMalformed(options) &&
              options.getBoolean("dataskipping", true),
            partSpec = partSpec)
        case None =>
          if (offset > 0) new GraftOffsetReaderFactory(rowFactory, offset)
          else if (topN != null && topNLimit > 0)
            new GraftTopNReaderFactory(rowFactory, rowSchema, topN, topNLimit)
          else rowFactory
      }
    }
  }
}

object GraftScan {
  /** Whether the plate reads column `ref` as the scan outputs it. It does
    * not for the listing's partition and file-path columns (stamped after
    * the parse; the plate would read them as null), renamed columns (the
    * plate matches PHYSICAL keys) and the row-index column (stamped
    * post-parse). The plate takes the filters on the columns it reads,
    * and only those can be exact ([[GraftScanBuilder]]).
    */
  def plateReads(listing: GraftSources.Listing, ref: String): Boolean =
    !listing.partCols.contains(ref) && !listing.physMap.contains(ref) &&
      ref != GraftSources.RowIndexCol

  /** Output schema of a pushed-down ungrouped COUNT(*): one non-null
    * partial count per partition (Spark plans the summing final agg).
    */
  val CountSchema: StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))

  /** Files dropped by the latest runtime-filtered (DPP) partition
    * planning in this JVM — test/debug observability only.
    */
  val lastRuntimePruned = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Files dropped by the latest stats-sidecar data skipping in this
    * JVM — test/debug observability only.
    */
  val lastStatsPruned = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Intra-file blocks dropped by the latest block-skipping partition
    * planning in this JVM — test/debug observability only.
    */
  val lastBlocksPruned = new java.util.concurrent.atomic.AtomicInteger(-1)
}

final class GraftJsonReaderFactory(
    schema: StructType,
    filters: Array[Filter],
    conf: Broadcast[SerializableConfiguration],
    mode: JsonParser.Mode,
    dropMalformed: Boolean = false,
    limit: Int = -1,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)] = Array.empty,
    corruptCol: String = null,
    saturate: Boolean = true,
    rowIdxSlot: Int = -1,
    // option("vectorized","false"): row-path force for A/B benches and
    // debugging — identical semantics, InternalRow delivery
    vectorized: Boolean = true,
    fastSatTail: Boolean = false,
    // session time zone for spark-parity temporal parsing, captured at
    // DRIVER-side factory construction (default args evaluate there)
    tz: String = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftJsonPartitionReader(
      partition.asInstanceOf[GraftInputPartition], schema, filters, conf.value.value, mode,
      dropMalformed, limit, partSpec, corruptCol, saturate, rowIdxSlot,
      fastSatTail = fastSatTail, tz = tz)

  // flat atomic schemas (ColumnarPlate.supports) take the vectorized
  // path (ColumnarBatch out); a struct, array or map column anywhere in
  // the read schema takes the row reader (RowPlate reads every shape);
  // partition columns become constant vectors per batch. PERMISSIVE mode
  // stays row-based (corrupt-row emission is a row-queue concept), and so
  // does row-index stamping. Deletion-vector masking VECTORIZES: the
  // plate drops masked ordinals at finishRow (whole-file partitions, no
  // plate filters, badrecords=fail — all enforced upstream), so a
  // merge-on-read table never falls off the vectorized cliff.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && ColumnarPlate.supports(schema) && corruptCol == null && rowIdxSlot < 0
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftJsonColumnarReader(
      partition.asInstanceOf[GraftInputPartition], schema, filters, conf.value.value, mode,
      dropMalformed, limit, partSpec, saturate, fastSatTail = fastSatTail, tz = tz)
}

final class GraftCsvReaderFactory(
    schema: StructType,
    filters: Array[Filter],
    conf: Broadcast[SerializableConfiguration],
    config: CsvParser.Config,
    limit: Int = -1,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)] = Array.empty,
    fullDataCols: Array[String] = Array.empty,
    rowIdxSlot: Int = -1,
    vectorized: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftCsvPartitionReader(
      partition.asInstanceOf[GraftInputPartition], schema, filters, conf.value.value, config,
      limit, partSpec, fullDataCols, rowIdxSlot)

  // flat schemas only, like the JSON factory (CSV cells are atomic);
  // byte-range splits vectorize too (RangeFeeder.csv);
  // row-index stamping is a row-path concept; deletion-vector masks drop
  // inside the plate (see the JSON factory's twin comment)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && ColumnarPlate.supports(schema) && rowIdxSlot < 0
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftCsvColumnarReader(
      partition.asInstanceOf[GraftInputPartition], schema, filters, conf.value.value, config,
      limit, partSpec, fullDataCols)
}

/** OFFSET pushdown: drops the first `offset` rows of the (single) input
  * partition — sound because the builder only accepts the pushdown for a
  * one-file listing and planInputPartitions never splits it. When Spark
  * pushes LIMIT alongside, it pushes limit+offset into the parser, so the
  * stream this wrapper trims is exactly rows [offset, offset+limit).
  */
final class GraftOffsetReaderFactory(
    inner: PartitionReaderFactory,
    offset: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(partition)
    new ForwardingReader(r) {
      private var dropped = 0
      override def next(): Boolean = {
        while (dropped < offset) {
          if (!r.next()) return false
          dropped += 1
        }
        r.next()
      }
      override def get(): InternalRow = r.get()
    }
  }
}

/** A reader that reshapes an inner reader's rows (OFFSET, top-N, pushed
  * aggregates). Closing and the task metrics are the inner reader's, and
  * final: a wrapper cannot drop the inner parse's skip accounting.
  */
private[spark] abstract class ForwardingReader(inner: PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  final override def close(): Unit = inner.close()
  final override def currentMetricsValues(): Array[CustomTaskMetric] =
    inner.currentMetricsValues()
}

/** Partial TopN pushdown executor: each partition drains its inner reader
  * through a bounded heap holding the sort-wise best `n` rows, so only
  * `n` rows per split reach Spark's global Sort + Limit
  * (isPartiallyPushed). A sort column that fails to resolve in the final
  * (pruned) schema degrades to pass-through — under PARTIAL push any
  * superset is correct, so the fallback is safe by construction.
  */
final class GraftTopNReaderFactory(
    inner: PartitionReaderFactory,
    schema: StructType,
    orders: Array[(String, Boolean, Boolean)], // (column, ascending, nullsFirst)
    n: Int) extends PartitionReaderFactory {
  import org.apache.spark.sql.types._

  private val resolved: Array[(Int, DataType, Boolean, Boolean)] =
    orders.flatMap { case (name, asc, nf) =>
      val i = schema.fieldNames.indexOf(name)
      if (i < 0 || !GraftTopNReaderFactory.comparable(schema(i).dataType)) None
      else Some((i, schema(i).dataType, asc, nf))
    }
  private val usable = resolved.length == orders.length

  private object cmp extends java.util.Comparator[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = {
      var k = 0
      while (k < resolved.length) {
        val (i, dt, asc, nullsFirst) = resolved(k)
        val an = a.isNullAt(i)
        val bn = b.isNullAt(i)
        // null ordering is absolute (not flipped by DESC), Spark semantics
        val c =
          if (an && bn) 0
          else if (an) { if (nullsFirst) -1 else 1 }
          else if (bn) { if (nullsFirst) 1 else -1 }
          else {
            val v = dt match {
              case LongType | TimestampType | TimestampNTZType =>
                java.lang.Long.compare(a.getLong(i), b.getLong(i))
              case IntegerType | DateType => Integer.compare(a.getInt(i), b.getInt(i))
              case DoubleType  => java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
              case FloatType   => java.lang.Float.compare(a.getFloat(i), b.getFloat(i))
              case ShortType   => java.lang.Short.compare(a.getShort(i), b.getShort(i))
              case ByteType    => java.lang.Byte.compare(a.getByte(i), b.getByte(i))
              case BooleanType => java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
              case StringType  => a.getUTF8String(i).compareTo(b.getUTF8String(i))
              case d: DecimalType =>
                a.getDecimal(i, d.precision, d.scale)
                  .compareTo(b.getDecimal(i, d.precision, d.scale))
              case _           => 0
            }
            if (asc) v else -v
          }
        if (c != 0) return c
        k += 1
      }
      0
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(partition)
    if (!usable) return r
    GraftTopNReaderFactory.engaged.incrementAndGet()
    new ForwardingReader(r) {
      private var out: java.util.Iterator[InternalRow] = _
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (out == null) {
          // max-heap on the retained set: root = worst kept row
          val heap = new java.util.PriorityQueue[InternalRow](math.max(n, 1), cmp.reversed())
          while (r.next()) {
            val row = r.get()
            if (heap.size < n) heap.add(row.copy())
            else if (cmp.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(row.copy())
            }
          }
          out = heap.iterator()
        }
        if (out.hasNext) { current = out.next(); true } else false
      }
      override def get(): InternalRow = current
    }
  }
}

object GraftTopNReaderFactory {
  import org.apache.spark.sql.types._
  /** Sort-key types the partial-TopN comparator understands. */
  def comparable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | ShortType | ByteType |
         BooleanType | StringType | TimestampType | TimestampNTZType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Translate pushed V2 sort orders into (col, asc, nullsFirst) specs —
    * ONE translator for every builder offering TopN (json/csv and avro):
    * single-column atomic references over comparable types only; None
    * refuses the whole pushdown.
    */
  def translateOrders(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      fullSchema: StructType): Option[Array[(String, Boolean, Boolean)]] = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    val spec = new Array[(String, Boolean, Boolean)](orders.length)
    var k = 0
    while (k < orders.length) {
      val o = orders(k)
      o.expression() match {
        case ref: NamedReference if ref.fieldNames().length == 1 =>
          val name = ref.fieldNames()(0)
          val idx = fullSchema.fieldNames.indexOf(name)
          if (idx < 0 || !comparable(fullSchema(idx).dataType)) return None
          spec(k) = (name,
            o.direction() == SortDirection.ASCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST)
        case _ => return None
      }
      k += 1
    }
    Some(spec)
  }

  /** Bounded-heap readers created in this JVM — test/debug observability. */
  val engaged = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** COUNT(*) pushdown: parse-only partial counts, one row per partition.
  * JSON and CSV ranges alike go through [[RangeFeeder]]. All values are
  * byte-skipped (SkipAllCountPlate).
  */
final class GraftCountReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    jsonMode: Option[JsonParser.Mode],
    csvConfig: CsvParser.Config,
    dropMalformed: Boolean,
    countMalformed: Boolean = false,
    useStats: Boolean = true,
    fullDataCols: Array[String] = Array.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftCountPartitionReader(
      partition.asInstanceOf[GraftInputPartition], conf.value.value, jsonMode, csvConfig,
      dropMalformed, countMalformed, useStats, fullDataCols)
}

final class GraftCountPartitionReader(
    part: GraftInputPartition,
    conf: Configuration,
    jsonMode: Option[JsonParser.Mode],
    csvConfig: CsvParser.Config,
    dropMalformed: Boolean,
    countMalformed: Boolean = false,
    useStats: Boolean = true,
    fullDataCols: Array[String] = Array.empty) extends PartitionReader[InternalRow] {

  private val plate = new graft.core.SkipAllCountPlate
  private var served = false
  private var feeder: RangeFeeder[Long] = null

  private def count(): Long = {
    // a deletion vector deletes EXACTLY its ordinal count from this file
    // (each artifact is the full cumulative set of valid ordinals): the
    // masked COUNT is base − |mask|, with the sidecar fast path intact.
    // Cross-check the last ordinal against the base count — a mask
    // addressing rows the file doesn't have must fail loudly, not skew.
    val deleted = DeletionVectors.partitionMask(conf, part)
    val base = baseCount()
    if (deleted == null) base
    else {
      // the subtraction is whole-file arithmetic: a block-pruned range
      // must never reach here (the planner keeps dv count scans whole)
      require(part.start == 0 && part.end == part.fileLen,
        s"pushed COUNT on a deletion-vector RANGE of '${part.path}' — " +
          "mask cardinality only subtracts from whole-file counts")
      require(deleted.last < base,
        s"deletion vector ${part.dv} addresses ordinal ${deleted.last} but " +
          s"'${part.path}' has only $base rows — artifact/file mismatch")
      base - deleted.cardinality
    }
  }

  private def baseCount(): Long = {
    // metadata-only count: a sink-written whole-file partition in strict
    // (fail) mode answers from the stats sidecar without reading a
    // single data byte — the JSON/CSV analog of counting from parquet
    // footers. drop/permissive modes still parse (they validate).
    if (useStats && !dropMalformed && !countMalformed &&
        part.start == 0 && part.end == part.fileLen) {
      val p = new Path(part.path)
      FileStats.loadFor(p.getFileSystem(conf), p, part.fileLen) match {
        case Some(st) => return st.rows
        case None => ()
      }
    }
    parsedCount()
  }

  private def parsedCount(): Long = {
    feeder = jsonMode match {
      case Some(mode) =>
        new RangeFeeder[Long](part, conf, () => new JsonParser(plate, mode), '\n', dropMalformed)
      case None => RangeFeeder.csv(part, conf, plate, csvConfig, fullDataCols)
    }
    while (!feeder.isExhausted) feeder.step()
    // PERMISSIVE emits one (null-filled) row per corrupt line, so a
    // pushed-down COUNT(*) must count them too
    plate.total + (if (countMalformed) feeder.droppedRecords else 0L)
  }

  override def next(): Boolean =
    if (served) false
    else { served = true; currentRow = InternalRow(count()); true }

  private var currentRow: InternalRow = _
  override def get(): InternalRow = currentRow
  override def close(): Unit = if (feeder != null) feeder.close()

  // 0 when the sidecar answered: nothing was parsed, so nothing skipped
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    GraftSources.skippedBytesMetric(plate.skippedBytes)
}

/** Sequential range input of [[RangeFeeder]]. Plain files delegate to
  * the FS stream (native seek / positioned read). Compressed files (gzip,
  * zstd) decompress on the fly and expose DECOMPRESSED coordinates: `seek`
  * and `readFully` — used only on malformed-record recovery paths — are
  * emulated by reopening the member and skipping, which is correct
  * (compressed partitions always start at offset 0) and costs
  * re-decompression only when a corrupt record actually needs a resync.
  */
private[spark] final class RangeInput(path: Path, conf: Configuration) {
  private val fs = path.getFileSystem(conf)
  private val gz = GraftSources.isCompressed(path.getName)
  private var raw = fs.open(path)
  private var in: java.io.InputStream =
    if (gz) GraftSources.decompress(path.getName, raw) else raw
  private var dpos = 0L // next-read offset in stream coordinates

  def read(buf: Array[Byte]): Int = {
    val n = in.read(buf)
    if (n > 0) dpos += n
    n
  }

  def seek(pos: Long): Unit = {
    if (!gz) { raw.seek(pos); dpos = pos; return }
    if (pos < dpos) { // restart the member
      in.close()
      raw = fs.open(path)
      in = GraftSources.decompress(path.getName, raw)
      dpos = 0L
    }
    skipTo(in, pos - dpos)
    dpos = pos
  }

  private def skipTo(s: java.io.InputStream, bytes: Long): Unit = {
    var left = bytes
    while (left > 0) {
      val n = s.skip(left)
      if (n > 0) left -= n
      else if (s.read() < 0) return // EOF short of the target: seek clamps
      else left -= 1
    }
  }

  /** Positioned read; the main cursor is untouched. */
  def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    if (!gz) { raw.readFully(pos, buf, off, len); return }
    val in2 = GraftSources.decompress(path.getName, fs.open(path))
    try {
      skipTo(in2, pos)
      var got = 0
      while (got < len) {
        val n = in2.read(buf, off + got, len - got)
        if (n < 0) throw new java.io.EOFException(s"$path at $pos+$len")
        got += n
      }
    } finally in2.close()
  }

  def close(): Unit = in.close()
}

/** Feeds one byte range of a line-delimited file into a parser: the one
  * loop that drives the resumable parser (`absorb`/`continueParse`/
  * `finish`, PAPER.md §0) for every graft JSON and CSV scan — the row,
  * columnar and COUNT(*) readers all read their range through it.
  *
  * Range protocol (the Hadoop text-split convention): a range with
  * start > 0 first discards bytes through the first `alignByte` at/after
  * `start` (that row belongs to the previous range), and every range
  * keeps consuming past `end` until the first `alignByte` at/after `end`.
  * Adjacent ranges therefore partition rows exactly. A block-pruned
  * (`aligned`) range is exact instead: the writer guaranteed that `start`
  * and `end` are row boundaries, so it starts without realignment and
  * stops at `end` — reading on would parse a sibling block's rows. The
  * alignment byte is '\n' for JSON lines and the row terminator's last
  * byte for CSV (splitting CSV is sound only when no value contains a row
  * delimiter — the `splittable` option's contract).
  *
  * With `dropMalformed`, a parse error triggers line resync: the parser's
  * positioned exception gives the bad byte's offset in its stream (which
  * started at `streamStartAbs`), the feeder seeks past the next alignment
  * byte, and `mkParser` builds a fresh parser — one corrupt record costs
  * one line, not the split (DROPMALFORMED semantics at 100 TB). When
  * `onCorrupt` is set it receives each dropped line's bytes (PERMISSIVE).
  * Without `dropMalformed` a bad record fails the task.
  *
  * `graft.core.StreamParser` is the same drive loop as an
  * `Iterator[Array[Byte]]` transducer (the fs2-pipe analogue). Scans do
  * not route through it: it absorbs whole arrays, so every chunk — and
  * every partial chunk at a range edge — would be copied out of the one
  * reused 256 KiB buffer this loop reads into.
  */
private[spark] final class RangeFeeder[A](
    part: GraftInputPartition,
    conf: Configuration,
    mkParser: () => graft.core.BaseParser[A],
    alignByte: Byte,
    dropMalformed: Boolean = false,
    onCorrupt: Array[Byte] => Unit = null) extends RowSource {

  private val path = new Path(part.path)
  private val in = new RangeInput(path, conf)
  private val chunk = new Array[Byte](256 * 1024)
  private var parser = mkParser()
  private var pos = part.start
  private var aligned = part.start == 0 || part.aligned
  private var exhausted = false
  private var streamStartAbs = part.start // file offset of parser's byte 0
  private var dropped = 0L
  private var resynced = false // a recovery happened inside the current step

  if (part.start > 0) in.seek(part.start)

  def isExhausted: Boolean = exhausted
  def droppedRecords: Long = dropped

  private def raise(r: ParseResult[A]): Unit = r match {
    case ParseResult.Failure(e) => handleFailure(e)
    case ParseResult.Partial(_, _) => raise(parser.continueParse())
    case _ => ()
  }

  private def handleFailure(e: Throwable): Unit = {
    if (!dropMalformed) throw e
    dropped += 1
    val errAbs = e match {
      case pe: graft.core.ParseException => streamStartAbs + math.max(pe.index, 0).toLong
      case _ => pos // incomplete at EOF etc.: resync from the read position
    }
    // resync: skip the bad record by seeking past the next row end
    var resume = errAbs + 1
    in.seek(math.min(resume, part.fileLen))
    var found = resume >= part.fileLen
    var sawNl = false
    while (!found) {
      val n = in.read(chunk)
      if (n < 0) { resume = part.fileLen; found = true }
      else {
        val nl = indexOfAlign(chunk, 0, n)
        if (nl >= 0) { resume = resume + nl + 1; found = true; sawNl = true }
        else resume += n
      }
    }
    // PERMISSIVE: hand the raw corrupt line to the reader (it emits a row
    // with the line in the corrupt-record column). This range owns the
    // record even when it runs past `end` — the row started here.
    if (onCorrupt != null)
      onCorrupt(captureLine(errAbs, if (sawNl) resume - 1 else resume))
    if (resume >= part.fileLen ||
        (resume > part.end && part.end != part.fileLen) ||
        // exact (block-pruned) ranges own nothing at/after `end` — the
        // bytes there belong to a sibling block (possibly a skipped one)
        (part.aligned && resume >= part.end)) {
      // the bad record ran past this range's end (or the file's): done —
      // the next range aligns to the same row end and owns what follows
      exhausted = true
      return
    }
    in.seek(resume)
    parser = mkParser()
    pos = resume
    streamStartAbs = resume
    aligned = true
    resynced = true
  }

  /** Rebuild the corrupt line's bytes: from the last row end before the error
    * (or the parser stream's start) to `lineEndExcl`. Positioned reads, so
    * the main stream's seek pointer is untouched. Errors are rare; the
    * backward window scan is off the hot path. Capture is capped at 8 MiB
    * (a pathological unterminated record can span the rest of the file).
    */
  private def captureLine(errAbs: Long, lineEndExcl0: Long): Array[Byte] = {
    // a finish-time error at EOF reports errAbs == fileLen, which makes
    // the naive end bound fileLen + 1 — clamp everything to the file,
    // and exclude the record's own terminator when the clamped bound
    // still covers it (the sawNl path already excluded it)
    var lineEndExcl = math.min(lineEndExcl0, part.fileLen)
    if (lineEndExcl > streamStartAbs) {
      val last = new Array[Byte](1)
      in.readFully(lineEndExcl - 1, last, 0, 1)
      if (last(0) == alignByte) lineEndExcl -= 1
    }
    val lo = streamStartAbs
    var found = -1L
    var cur = math.max(lo, math.min(math.min(errAbs, part.fileLen), lineEndExcl))
    val win = new Array[Byte](64 * 1024)
    while (found < 0 && cur > lo) {
      val start = math.max(lo, cur - win.length)
      val n = (cur - start).toInt
      in.readFully(start, win, 0, n)
      var i = n - 1
      while (i >= 0 && found < 0) { if (win(i) == alignByte) found = start + i; i -= 1 }
      cur = start
    }
    val ls = if (found < 0) lo else found + 1
    val len = math.max(0L, math.min(lineEndExcl - ls, 8L << 20)).toInt
    val out = new Array[Byte](len)
    if (len > 0) in.readFully(ls, out, 0, len)
    out
  }

  /** Absorb the next chunk (or finish at the range/file end). */
  def step(): Unit = {
    if (exhausted) return
    val n = in.read(chunk)
    if (n < 0) {
      raise(parser.finish())
      if (resynced) { resynced = false; return } // recovery restarted the stream
      exhausted = true
      return
    }
    val chunkStartAbs = pos
    pos += n
    var off = 0
    if (!aligned) {
      // discard through the first row end at/after start (previous range's row)
      val nl = indexOfAlign(chunk, 0, n)
      if (nl < 0) return
      if (chunkStartAbs + nl >= part.end) {
        // no row starts inside this range: the previous range owns the
        // boundary row and the next range aligns to this same row end
        exhausted = true
        return
      }
      off = nl + 1
      aligned = true
      streamStartAbs = chunkStartAbs + off
    }
    if (chunkStartAbs + n <= part.end || part.end == part.fileLen) {
      raise(parser.absorb(chunk, off, n - off))
      resynced = false
    } else if (part.aligned) {
      // exact (block-pruned) range: `end` IS a row boundary, so absorb
      // strictly up to it and finish — reading on would re-parse the next
      // block's rows (another partition's, or a skipped block's)
      absorbLast(off, (part.end - chunkStartAbs).toInt)
    } else {
      // past the range end: stop after the first row end at/after `end`
      val fromRel = math.max(off, math.max(0L, part.end - chunkStartAbs).toInt)
      val nl = indexOfAlign(chunk, fromRel, n)
      if (nl < 0) raise(parser.absorb(chunk, off, n - off)) // boundary row continues
      else absorbLast(off, nl + 1)
    }
  }

  /** Absorb chunk[off, until) as the range's last bytes and finish. */
  private def absorbLast(off: Int, until: Int): Unit = {
    if (until > off) raise(parser.absorb(chunk, off, until - off))
    if (resynced) { resynced = false; return } // recovery restarted the stream
    if (!exhausted) raise(parser.finish())
    exhausted = true
  }

  private def indexOfAlign(buf: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      if (buf(i) == alignByte) return i
      i += 1
    }
    -1
  }

  def close(): Unit = in.close()
}

private[spark] object RangeFeeder {
  /** A CSV range's feeder over one parser. A range past byte 0 never sees
    * the file's header row, so a header-mode config gets the column order
    * instead (`dataCols`, the data part of the table schema). Rows align
    * on the row terminator's last byte.
    */
  def csv[A](part: GraftInputPartition, conf: Configuration, plate: graft.core.Plate[A],
      config: CsvParser.Config, dataCols: Array[String]): RangeFeeder[A] = {
    val rangeConfig =
      if (part.start > 0 && config.header && config.providedHeader.isEmpty)
        config.copy(providedHeader = dataCols.toSeq)
      else config
    new RangeFeeder[A](part, conf, () => new CsvParser(plate, rangeConfig),
      if (config.row2 != 0) config.row2 else config.row1)
  }
}

/** Partition-column constant vectors for the vectorized readers: each
  * batch keeps the parsed data vectors and swaps in one
  * ConstantColumnVector per partition-served column.
  */
private[spark] object PartitionVectors {
  def typed(partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)],
      partValues: Array[String]): Array[(Int, Any, org.apache.spark.sql.types.DataType)] =
    partSpec.map { case (ri, pi, dt) =>
      val raw = partValues(pi)
      (ri, if (raw == null) null else Conversions.fromString(dt, raw), dt)
    }

  def wrap(batch: org.apache.spark.sql.vectorized.ColumnarBatch,
      parts: Array[(Int, Any, org.apache.spark.sql.types.DataType)])
      : org.apache.spark.sql.vectorized.ColumnarBatch = {
    if (parts.isEmpty) return batch
    val n = batch.numCols()
    val vecs = new Array[org.apache.spark.sql.vectorized.ColumnVector](n)
    var i = 0
    while (i < n) { vecs(i) = batch.column(i); i += 1 }
    parts.foreach { case (idx, v, dt) =>
      val cv = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
        batch.numRows(), dt)
      v match {
        case null => cv.setNull()
        case l: java.lang.Long => cv.setLong(l)
        case d: java.lang.Double => cv.setDouble(d)
        case s: org.apache.spark.unsafe.types.UTF8String => cv.setUtf8String(s)
        // DATE partition values arrive as boxed epoch-day Integers
        // (Conversions.fromString), and user schemas may type partition
        // columns INT/BOOLEAN/FLOAT — every atomic type the flat columnar
        // path serves (ColumnarPlate.supports) must have a constant-vector
        // case
        case i: java.lang.Integer => cv.setInt(i)
        case b: java.lang.Boolean => cv.setBoolean(b)
        case f: java.lang.Float => cv.setFloat(f)
        case other => throw new IllegalStateException(
          s"unsupported partition value type ${other.getClass}")
      }
      vecs(idx) = cv
    }
    new org.apache.spark.sql.vectorized.ColumnarBatch(vecs, batch.numRows())
  }
}

/** Base of the vectorized JSON and CSV readers: steps the [[RangeFeeder]]
  * until the plate holds rows, then hands them out as one batch with the
  * partition's constant vectors swapped in. A pushed limit stops the
  * parse at batch granularity.
  */
private[spark] abstract class GraftColumnarReader(
    part: GraftInputPartition,
    conf: Configuration,
    limit: Int,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  // deletion-vector mask for the plate, which drops masked ordinals at
  // finishRow — merge-on-read tables stay vectorized. Plate filters run
  // under the mask too (round 11): the plate counts filter-skipped rows'
  // ordinals itself, so SkipRow parse pushdown and merge-on-read deletes
  // compose; the scan pinned badrecords=fail for dv snapshots (a
  // malformed-row drop has no such accounting).
  protected final val dvMask: DeletionVectors.Mask = DeletionVectors.partitionMask(conf, part)
  protected val plate: ColumnarPlate
  protected val feeder: RangeFeeder[Long]
  private val partTyped = PartitionVectors.typed(partSpec, part.partValues)
  private var emitted = 0L
  private var current: org.apache.spark.sql.vectorized.ColumnarBatch = _

  final override def next(): Boolean = {
    // pushed limit satisfied (batch granularity): stop parsing bytes
    if (limit >= 0 && emitted >= limit) return false
    while (plate.pendingRows == 0 && !feeder.isExhausted) feeder.step()
    if (plate.pendingRows > 0) {
      current = PartitionVectors.wrap(plate.takeBatch(), partTyped)
      emitted += current.numRows; true
    } else false
  }

  final override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current
  final override def close(): Unit = feeder.close()

  final override def currentMetricsValues(): Array[CustomTaskMetric] =
    GraftSources.skippedBytesMetric(plate.totalSkippedBytes)
}

/** Vectorized JSON reader: one byte range (see [[RangeFeeder]]),
  * ColumnarBatch output.
  */
final class GraftJsonColumnarReader(
    part: GraftInputPartition,
    schema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    mode: JsonParser.Mode,
    dropMalformed: Boolean = false,
    limit: Int = -1,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)] = Array.empty,
    saturate: Boolean = true,
    fastSatTail: Boolean = false,
    tz: String = "UTC")
    extends GraftColumnarReader(part, conf, limit, partSpec) {

  // drop mode needs full per-row validation: no saturation elision
  protected val plate = new ColumnarPlate(schema, filters,
    saturate = saturate && !dropMalformed, mask = dvMask,
    maskStartOrd = part.startOrd, fastSatTail = fastSatTail,
    strictTokens = true, timeZoneId = tz,
    dropDiscarded = dropMalformed)
  // recovery keeps the SAME plate (its buffered batch holds completed
  // rows) and restarts only the parser, after dropping the abandoned
  // row's partial state (nothing to drop on the first parser)
  protected val feeder = new RangeFeeder[Long](part, conf,
    () => { plate.abandonPartialRow(); new JsonParser(plate, mode) }, '\n', dropMalformed)
}

/** Vectorized CSV reader: one byte range per task (the whole file unless
  * the scan is `splittable`; see [[RangeFeeder]]), ColumnarBatch output —
  * so opt-in splittable CSV scans stay vectorized.
  */
final class GraftCsvColumnarReader(
    part: GraftInputPartition,
    schema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    config: CsvParser.Config,
    limit: Int = -1,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)] = Array.empty,
    fullDataCols: Array[String] = Array.empty)
    extends GraftColumnarReader(part, conf, limit, partSpec) {

  protected val plate =
    new ColumnarPlate(schema, filters,
      emptyCellsAsNull = true, mask = dvMask,
      maskStartOrd = part.startOrd) // CSV: empty cell = NULL
  protected val feeder = RangeFeeder.csv(part, conf, plate, config, fullDataCols)
}

/** What a row reader steps: a [[RangeFeeder]] driving a parser over one
  * byte range, or a format's own record decoder. Each step hands the rows
  * it completes to the reader's emit gate.
  */
private[spark] trait RowSource {
  def isExhausted: Boolean
  def step(): Unit
  def close(): Unit
}

/** Base of the row-delivering JSON, CSV and Avro readers: steps the
  * [[RowSource]] until the queue holds a row. Sources hand rows to
  * [[emit]], the one gate that numbers each row with its file ordinal,
  * drops deletion-masked rows and stamps survivors. A pushed limit stops
  * the stepping.
  */
private[spark] abstract class GraftRowReader(
    part: GraftInputPartition,
    conf: Configuration,
    limit: Int,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)],
    rowIdxSlot: Int) extends PartitionReader[InternalRow] {

  protected final val queue = new mutable.ArrayDeque[InternalRow]
  // typed partition values for this split, stamped into every row (hive
  // semantics: the directory value wins over any same-named data field)
  private val partTyped = PartitionVectors.typed(partSpec, part.partValues)
  // deletion vector: the file's deleted ordinals as validated runs —
  // O(runs) memory however many rows are masked; rows arrive in file
  // order, so the mask's pointer walk is O(1) amortized
  private val dvMask = DeletionVectors.partitionMask(conf, part)
  // row ordinal within the FILE: whole-file partitions count from 0;
  // block-pruned aligned ranges start at the planner-derived ordinal
  private var rowOrdinal = part.startOrd
  private var emitted = 0L
  private var current: InternalRow = _
  /** The schema-driven plate: it pools rows and counts the rows its
    * filters drop. Null for the variant plates, which do neither.
    */
  protected var rowPlate: RowPlate = null
  protected val source: RowSource
  /** Bytes the reader's plate skipped without tokenizing. */
  protected def skippedBytes: Long

  protected final def stamp(row: InternalRow): InternalRow = {
    var i = 0
    while (i < partTyped.length) {
      row.asInstanceOf[GenericInternalRow].update(partTyped(i)._1, partTyped(i)._2)
      i += 1
    }
    row
  }

  // count the TRUE file ordinal — folding in the rows the PLATE dropped
  // before this one (SkipRow pushdown / null-demand checks; each occupied
  // an ordinal), so parse-level filtering composes with masks and
  // provenance — then drop masked rows (recycling them to the plate's row
  // pool) and stamp partition values + the provenance ordinal on survivors
  protected final def emit(row: InternalRow): Unit = {
    if (rowPlate != null) rowOrdinal += rowPlate.drainSkippedRows()
    val ord = rowOrdinal; rowOrdinal += 1
    if (dvMask != null && dvMask.masked(ord)) {
      if (rowPlate != null) rowPlate.recycle(row)
      return
    }
    stamp(row)
    if (rowIdxSlot >= 0)
      row.asInstanceOf[GenericInternalRow].update(rowIdxSlot, ord)
    queue.append(row)
  }

  final override def next(): Boolean = {
    // pushed limit satisfied: stop parsing bytes entirely (Terminate analog)
    if (limit >= 0 && emitted >= limit) return false
    // the previously returned row is dead once the consumer advances
    // (DSv2 row-reuse contract): hand it back to the plate's row pool
    if (current != null && rowPlate != null) {
      rowPlate.recycle(current)
      current = null
    }
    while (queue.isEmpty && !source.isExhausted) source.step()
    if (queue.nonEmpty) { current = queue.removeHead(); emitted += 1; true }
    else false
  }

  final override def get(): InternalRow = current
  final override def close(): Unit = source.close()

  final override def currentMetricsValues(): Array[CustomTaskMetric] =
    GraftSources.skippedBytesMetric(skippedBytes)
}

/** Row-delivering JSON reader over one byte range (see [[RangeFeeder]]). */
final class GraftJsonPartitionReader(
    part: GraftInputPartition,
    schema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    mode: JsonParser.Mode,
    dropMalformed: Boolean = false,
    limit: Int = -1,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)] = Array.empty,
    corruptCol: String = null,
    saturate: Boolean = true,
    rowIdxSlot: Int = -1,
    fastSatTail: Boolean = false,
    tz: String = "UTC")
    extends GraftRowReader(part, conf, limit, partSpec, rowIdxSlot) {

  // VARIANT columns select open-typed ingestion: shredded path-extraction
  // columns (pushed variant_get, metadata-tagged) parse only the requested
  // subtrees; a bare single VARIANT column captures whole rows; any other
  // schema takes the schema-driven pushdown plate. A variant schema holds
  // no partition or row-index column, so `emit` only numbers and masks
  // the variant plates' rows.
  private val shreddedPaths: Option[Array[Array[String]]] =
    if (schema.nonEmpty && schema.forall(_.dataType == org.apache.spark.sql.types.VariantType) &&
        schema.exists(_.metadata.contains(GraftSources.VariantMetadataKey)))
      Some(schema.fields.map(f =>
        GraftSources.variantPathSegments(f.metadata).getOrElse(Array.empty[String])))
    else None
  private val variantMode = schema.length == 1 &&
    schema.head.dataType == org.apache.spark.sql.types.VariantType
  // recovery replaces parser AND plate; completed rows already sit in
  // queue, and the replaced plate's skipped bytes carry over
  private var pathPlate: PathVariantPlate = null
  private var parserRef: JsonParser[Long] = null
  private var retiredSkipped = 0L
  private def plateSkipped: Long =
    if (rowPlate != null) rowPlate.totalSkippedBytes
    else if (pathPlate != null) pathPlate.totalSkippedBytes
    else 0L
  private def mkParser(): JsonParser[Long] = {
    retiredSkipped += plateSkipped
    val plate: graft.core.Plate[Long] = shreddedPaths match {
      case Some(paths) =>
        pathPlate = new PathVariantPlate(paths, emit(_))
        pathPlate
      case None if variantMode => new VariantRowPlate(emit(_))
      case None =>
        // corrupt-capture / drop modes need full per-row validation, which
        // the saturation skip's error-check elision would subvert.
        // PERMISSIVE (spark parity, round 20): a row with any DISCARDED
        // binding (conversion failure / type mismatch / poison) keeps its
        // partial values AND carries the raw source line in the corrupt
        // column; DROPMALFORMED drops such rows whole (plate-side).
        val emitFn: InternalRow => Unit =
          if (corruptIdx >= 0) { r =>
            if (rowPlate.lastRowDiscarded && parserRef != null) {
              val (buf, from, until) = parserRef.currentRowLine
              r.update(corruptIdx, org.apache.spark.unsafe.types.UTF8String
                .fromBytes(java.util.Arrays.copyOfRange(buf, from, until)))
            }
            emit(r)
          } else r => emit(r)
        rowPlate = new RowPlate(schema, filters, emitFn,
          saturate = saturate && !dropMalformed && corruptCol == null,
          fastSatTail = fastSatTail, strictTokens = true, timeZoneId = tz,
          dropDiscarded = dropMalformed && corruptCol == null)
        rowPlate
    }
    val p = new JsonParser(plate, mode)
    parserRef = p
    p
  }
  // PERMISSIVE (badrecords=keep): each corrupt line becomes a row of nulls
  // carrying the raw line in the corrupt-record column (when the required
  // schema retains it — Spark prunes it like any other column)
  private val corruptIdx =
    if (corruptCol == null) -1 else schema.fieldNames.indexOf(corruptCol)
  private val onCorrupt: Array[Byte] => Unit =
    if (corruptCol == null) null
    else bytes => {
      val row = new GenericInternalRow(schema.length)
      if (corruptIdx >= 0)
        row.update(corruptIdx, org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes))
      queue.append(stamp(row))
    }
  protected val source =
    new RangeFeeder[Long](part, conf, () => mkParser(), '\n', dropMalformed, onCorrupt)

  protected def skippedBytes: Long = retiredSkipped + plateSkipped
}

/** Row-delivering CSV reader over one byte range: the whole file unless
  * the scan is `splittable` (quoted row delimiters make byte-range splits
  * unsound; see [[RangeFeeder]]).
  */
final class GraftCsvPartitionReader(
    part: GraftInputPartition,
    schema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    config: CsvParser.Config,
    limit: Int = -1,
    partSpec: Array[(Int, Int, org.apache.spark.sql.types.DataType)] = Array.empty,
    fullDataCols: Array[String] = Array.empty,
    rowIdxSlot: Int = -1)
    extends GraftRowReader(part, conf, limit, partSpec, rowIdxSlot) {

  // CSV: empty cell = NULL (Spark/DuckDB parity)
  rowPlate = new RowPlate(schema, filters, emit(_), emptyCellsAsNull = true)
  protected val source = RangeFeeder.csv(part, conf, rowPlate, config, fullDataCols)

  protected def skippedBytes: Long = rowPlate.totalSkippedBytes
}
