package graft.spark

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Micro-batch streaming over JSON-lines files: the engine's mapping of the
  * reference's async/BreakBatch partial-batch semantics onto Structured
  * Streaming (SURVEY §2.4 — batch abbreviation ≈ `ReadLimit`/admission
  * control; checkpoint/resume ≈ offsets).
  *
  * The offset is a single byte position over the discovery-ordered file
  * registry (new files appended as they land — see [[StreamFileRegistry]]);
  * each trigger advances at most `maxbytespertrigger` bytes (default
  * 128 MB) and planInputPartitions maps the byte window onto per-file
  * segments read by the SAME row-realigning partition reader as the batch
  * path — so micro-batch boundaries can fall mid-row and rows are still
  * delivered exactly once.
  */
final case class GraftStreamOffset(pos: Long) extends Offset {
  override def json(): String = s"""{"pos":$pos}"""
}

/** Append-only file registry shared by both streaming sources: offsets are
  * cumulative positions over the DISCOVERY order, so the mapping list may
  * only ever grow at the tail. New files landing in the directory are
  * appended (name-sorted within each discovery round); the order is
  * persisted in the stream's checkpoint directory so a restarted query
  * reconstructs the identical mapping even though a fresh listing would
  * interleave old and new names. Files are treated as immutable once
  * discovered (their recorded length is kept).
  */
private[spark] final class StreamFileRegistry(
    options: CaseInsensitiveStringMap,
    checkpointLocation: String) {

  private val logPath = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-files.log")
  private val fs = logPath.getFileSystem(GraftSources.activeHadoopConf())

  private var list: Vector[(String, Long)] = {
    if (fs.exists(logPath)) {
      val in = fs.open(logPath)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().flatMap { line =>
          val i = line.lastIndexOf('\t')
          if (i <= 0) None else Some((line.substring(0, i), line.substring(i + 1).toLong))
        }.toVector
      } finally in.close()
    } else Vector.empty
  }
  private var known: Set[String] = list.map(_._1).toSet

  // followLog: discovery follows the sink's commit log instead of raw
  // directory listing — only committed files enter the stream, in commit
  // order (the Delta-streaming-source shape; uncommitted/rogue files and
  // in-flight writers are invisible, so sink-table tailing is coherent).
  private val followLog: Boolean =
    "true".equalsIgnoreCase(Option(options.get("followlog")).getOrElse(""))

  discover() // initial listing

  /** Re-list the input and append any newly landed files. */
  def discover(): Unit = synchronized {
    val fresh =
      if (followLog) {
        // already-admitted lengths come from the registry: only NEW files
        // are stat'd, and a purged retired original the stream already
        // delivered cannot fail the poll (or a checkpoint restart)
        val lenOf = list.toMap
        val current = GraftSources.logOrderedFiles(options, lenOf.get)
        // a file this stream already delivered that the log no longer
        // lists means a COW rewrite was absorbed into a checkpoint and
        // its entries expired UNDER the stream. Pre-expiry the rewrite
        // entry itself fails loudly ("streams cannot un-deliver");
        // checkpoint seeding must not soften that into silently
        // re-delivering the rewritten rows alongside the stale ones.
        val gone = known -- current.map(_._1).toSet
        if (gone.nonEmpty) throw new IllegalStateException(
          s"followLog: ${gone.size} file(s) this stream already delivered are " +
            s"no longer in the table's log (e.g. ${gone.take(3).mkString(", ")}) " +
            "— the table was rewritten by DELETE/UPDATE/OPTIMIZE and the " +
            "history expired; restart the stream from a fresh checkpoint to " +
            "re-snapshot")
        current.filterNot(f => known(f._1))
      }
      else {
        val listed = GraftSources.resolvePartitioned(options).files
        // a deletion vector deletes rows IN PLACE — a byte-offset stream
        // reading the raw file would deliver them; refuse loudly (same
        // contract as followLog's `d`-entry refusal)
        DeletionVectors.requireNone(listed, "streaming read")
        listed.map(f => (f.path, f.len))
          .filterNot(f => known(f._1)).sortBy(_._1)
      }
    if (fresh.nonEmpty) {
      list = list ++ fresh
      known = known ++ fresh.map(_._1)
      // rewrite-and-rename: atomic enough for a single-driver writer
      val tmp = new org.apache.hadoop.fs.Path(logPath.getParent, logPath.getName + ".tmp")
      val out = fs.create(tmp, true)
      try list.foreach { case (p, l) => out.write(s"$p\t$l\n".getBytes("UTF-8")) }
      finally out.close()
      fs.rename(tmp, logPath)
    }
  }

  def files: Vector[(String, Long)] = synchronized(list)
  def totalBytes: Long = files.map(_._2).sum
  def fileCount: Long = files.length.toLong
}

final class GraftJsonMicroBatchStream(
    options: CaseInsensitiveStringMap,
    checkpointLocation: String,
    factory: PartitionReaderFactory,
    partCols: Seq[String] = Nil)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val registry = new StreamFileRegistry(options, checkpointLocation)
  // per-file partition values derive from each admitted path (round 11):
  // the roots are resolved once; [[GraftSources.partValuesForFile]] does
  // the same k=v parse as the batch walk
  private lazy val rootsQ = GraftSources.qualifiedRoots(options)
  private def pv(path: String): Array[String] =
    GraftSources.partValuesForFile(path, rootsQ, partCols)
  private val maxBytesPerTrigger: Long =
    Option(options.get("maxbytespertrigger")).map(_.toLong).getOrElse(128L << 20)
  private val maxFilesPerTrigger: Long =
    Option(options.get("maxfilespertrigger")).map(_.toLong).getOrElse(Long.MaxValue)
  // Whole-file admission (the CSV stream's model): offsets count FILES, a
  // trigger admits whole members — the mode compressed inputs need, since
  // a byte window cannot realign inside a gzip/zstd member. Opt in with
  // option("admission", "files"), or automatic when the initial listing
  // already contains a compressed file. The two modes' offsets are not
  // interchangeable, so the mode resolved on the FIRST run is pinned in the
  // checkpoint (graft-admission.mode); a restart that resolves differently
  // (option flipped, or a compressed file landed over a byte-mode
  // checkpoint) fails fast instead of reinterpreting committed offsets.
  private val fileAdmission: Boolean = {
    val derived =
      "files".equalsIgnoreCase(Option(options.get("admission")).getOrElse("")) ||
        registry.files.exists(f => GraftSources.isCompressed(f._1))
    val modePath = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-admission.mode")
    val fs = modePath.getFileSystem(GraftSources.activeHadoopConf())
    if (fs.exists(modePath)) {
      val in = fs.open(modePath)
      val persisted =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val persistedFiles = persisted == "files"
      if (persistedFiles != derived) {
        val derivedName = if (derived) "files" else "bytes"
        throw new IllegalStateException(
          s"graft-json stream checkpoint at $checkpointLocation was started with " +
          s"admission mode '$persisted' but this run resolves to '$derivedName'. " +
          "Byte offsets and file-count offsets are not interchangeable; continuing " +
          "would silently skip or re-read data. Restart with the original mode " +
          s"""(option("admission", "$persisted")) after removing any input the """ +
          "original mode cannot read, or start a fresh checkpoint.")
      }
      persistedFiles
    } else {
      val tmp = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-admission.mode.tmp")
      val out = fs.create(tmp, true)
      try out.write((if (derived) "files" else "bytes").getBytes("UTF-8"))
      finally out.close()
      fs.rename(tmp, modePath)
      derived
    }
  }
  // Trigger.AvailableNow cap: set once at prepare, so files landing during
  // the drain wait for the next run (the AvailableNow contract)
  private var availableNowCap: Long = -1L

  override def initialOffset(): Offset = GraftStreamOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val pos = json.replaceAll("[^0-9]", "")
    GraftStreamOffset(if (pos.isEmpty) 0L else pos.toLong)
  }

  private def available(): Long = {
    registry.discover() // new-file discovery happens at offset time
    val t = if (fileAdmission) registry.fileCount else registry.totalBytes
    if (availableNowCap >= 0) math.min(t, availableNowCap) else t
  }

  override def latestOffset(): Offset =
    GraftStreamOffset(available()) // plain API: everything available

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftStreamOffset].pos
    val step = if (fileAdmission) maxFilesPerTrigger else maxBytesPerTrigger
    GraftStreamOffset(math.min(available(), start + step))
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(available())

  override def prepareForTriggerAvailableNow(): Unit = {
    registry.discover()
    availableNowCap = if (fileAdmission) registry.fileCount else registry.totalBytes
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].pos
    val e = end.asInstanceOf[GraftStreamOffset].pos
    if (fileAdmission)
      return registry.files.slice(s.toInt, e.toInt).map { case (p, len) =>
        GraftSources.wholeFilePartition(p, len, pv(p)): InputPartition
      }.toArray
    // map the global byte window onto per-file segments (discovery order)
    val parts = Seq.newBuilder[InputPartition]
    var base = 0L
    registry.files.foreach { case (path, len) =>
      if (GraftSources.isCompressed(path))
        throw new UnsupportedOperationException(
          s"graft-json streaming admits byte windows that can fall mid-file; " +
          s"compressed members cannot be realigned from an offset: $path " +
          "(set option(\"admission\", \"files\") for whole-file admission)")
      val fs = math.max(s - base, 0L)
      val fe = math.min(e - base, len)
      // partition values are per-FILE constants, so a mid-file segment
      // carries the same values as the whole file would
      if (fe > fs) parts += GraftInputPartition(path, fs, fe, len, pv(path))
      base += len
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Whole-file micro-batch admission, shared by every lane whose files
  * cannot byte-offset split mid-stream (CSV's quoted row delimiters,
  * avro's binary blocks): the offset is a FILE index into the (snapshot,
  * name-ordered) list — each trigger admits up to `maxfilespertrigger`
  * whole files (the classic file-source admission model), read by the
  * format's `factory`.
  */
final class WholeFileMicroBatchStream(
    options: CaseInsensitiveStringMap,
    checkpointLocation: String,
    factory: PartitionReaderFactory,
    partCols: Seq[String] = Nil)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val registry = new StreamFileRegistry(options, checkpointLocation)
  // per-file partition values derive from each admitted path (round 11)
  private lazy val rootsQ = GraftSources.qualifiedRoots(options)
  private val maxFilesPerTrigger: Int =
    Option(options.get("maxfilespertrigger")).map(_.toInt).getOrElse(Int.MaxValue)
  private var availableNowCap: Long = -1L

  override def initialOffset(): Offset = GraftStreamOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val pos = json.replaceAll("[^0-9]", "")
    GraftStreamOffset(if (pos.isEmpty) 0L else pos.toLong)
  }

  private def availableFiles(): Long = {
    registry.discover()
    val t = registry.fileCount
    if (availableNowCap >= 0) math.min(t, availableNowCap) else t
  }

  override def latestOffset(): Offset = GraftStreamOffset(availableFiles())
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftStreamOffset].pos
    GraftStreamOffset(math.min(availableFiles(), start + maxFilesPerTrigger))
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(availableFiles())

  override def prepareForTriggerAvailableNow(): Unit = {
    registry.discover()
    availableNowCap = registry.fileCount
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].pos.toInt
    val e = end.asInstanceOf[GraftStreamOffset].pos.toInt
    registry.files.slice(s, e).map { case (p, len) =>
      GraftSources.wholeFilePartition(p, len,
        GraftSources.partValuesForFile(p, rootsQ, partCols)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Row-level CHANGE-DATA-FEED micro-batch streaming over a logged graft
  * table (round 15 — `readStream.option("readchangefeed", true)`, the
  * Delta CDF streaming-read shape). Offsets are COMMIT-LOG VERSIONS;
  * each trigger admits whole commits in commit order and emits their
  * row-level changes with a `_change_type` column stamped through the
  * partition-value machinery:
  *
  *   - `f` add actions → the added files' rows as `insert` (plain
  *     whole-file reads — a file is clean at its add commit);
  *   - `d` deletion-vector attachments → the file's mask DELTA vs its
  *     previous vector as `delete`, read from the immutable pre-image
  *     keeping exactly the delta ordinals (an inverse-selection mask —
  *     O(changed rows), unchanged files never scanned);
  *   - commits carrying `r` removes (COW rewrites, OPTIMIZE, RESTORE)
  *     are inexpressible as row-level changes and REFUSE loudly, exactly
  *     like the batch verb ([[graft.api.TrainingData.changeFeed]]);
  *     `option("skipchangecommits", "true")` skips them whole (Delta's
  *     dial, explicit opt-in);
  *   - schema-only commits contribute no rows.
  *
  * Replay-idempotent by construction: the partitions for a version
  * window (start, end] are a pure function of the log, so a restarted
  * query re-plans the identical batch. A start version that expired
  * (expireLogHistory) refuses loudly through liveStateAsOf's rail — a
  * full refresh from a fresh checkpoint is required. Vectors are
  * cumulative outside restores: a mask that SHRANK at a non-restore
  * commit fails the corruption rail (batch-verb parity).
  *
  * `option("sinceversion", v)` starts the feed after version v
  * (exclusive, batch-verb parity); `-1` streams the full history from
  * the table's creation (every add since version 0 surfaces as inserts);
  * default = the latest version at stream start (only new commits).
  */
final class GraftCdfMicroBatchStream(
    options: CaseInsensitiveStringMap,
    checkpointLocation: String,
    factory: PartitionReaderFactory,
    partCols: Seq[String]) // REAL partition columns; change type is appended
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val rootsQ = GraftSources.qualifiedRoots(options)
  require(rootsQ.length == 1,
    s"readChangeFeed needs exactly one root directory, got ${rootsQ.length}")
  private val root = new org.apache.hadoop.fs.Path(rootsQ.head)
  private val fs = root.getFileSystem(GraftSources.activeHadoopConf())
  private val log = GraftCommitLog
  private val skipChange =
    "true".equalsIgnoreCase(Option(options.get("skipchangecommits")).getOrElse(""))
  private val maxCommits: Int =
    Option(options.get("maxcommitspertrigger")).map(_.toInt).getOrElse(Int.MaxValue)
  private var availableNowCap: Long = Long.MinValue

  private def pvFor(absPath: String, changeType: String): Array[String] =
    GraftSources.partValuesForFile(absPath, rootsQ, partCols) :+ changeType

  override def initialOffset(): Offset = {
    val vs = log.versions(fs, root)
    require(vs.nonEmpty,
      s"readChangeFeed: no graft commit log under $root " +
        "(only graft batch sinks write .graft-log)")
    val since = Option(options.get("sinceversion")).map(_.toLong).getOrElse(vs.max)
    require(since == -1L || vs.contains(since),
      s"readChangeFeed sinceversion=$since: unknown version " +
        s"(available: ${vs.min}..${vs.max}, or -1 for the full history)" +
        (if (since < vs.min && since >= 0) " — history expired " +
          "(expireLogHistory); a full refresh is required" else ""))
    GraftStreamOffset(since)
  }

  override def deserializeOffset(json: String): Offset = {
    // sign-preserving: -1 (full history) is a legal checkpointed offset
    val pos = json.replaceAll("[^0-9-]", "")
    GraftStreamOffset(if (pos.isEmpty || pos == "-") 0L else pos.toLong)
  }

  private def latestVersion(): Long = {
    val vs = log.versions(fs, root)
    val t = if (vs.isEmpty) Long.MinValue else vs.max
    if (availableNowCap != Long.MinValue) math.min(t, availableNowCap) else t
  }

  override def latestOffset(): Offset = GraftStreamOffset(latestVersion())
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftStreamOffset].pos
    val avail = latestVersion()
    if (avail <= start) return GraftStreamOffset(start)
    val pending = log.versions(fs, root).filter(v => v > start && v <= avail)
    val admitted = pending.take(maxCommits)
    GraftStreamOffset(if (admitted.isEmpty) start else admitted.max)
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(latestVersion())

  override def prepareForTriggerAvailableNow(): Unit = {
    val vs = log.versions(fs, root)
    availableNowCap = if (vs.isEmpty) Long.MinValue else vs.max
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].pos
    val e = end.asInstanceOf[GraftStreamOffset].pos
    if (e <= s) return Array.empty
    val conf = GraftSources.activeHadoopConf()
    val vs = log.versions(fs, root)
    // the fold base: live state at the last processed version — expired
    // history refuses loudly through liveStateAsOf's rail (batch parity)
    var state: Map[String, String] =
      if (s < 0) Map.empty else log.liveStateAsOf(fs, root, s)
    val parts = Array.newBuilder[InputPartition]
    vs.filter(v => v > s && v <= e).foreach { v =>
      val acts = log.entryActionsAwait(fs, root, v)
      val removes = acts.filter(_.kind == 'r')
      val cdc = log.entryChangeFiles(fs, root, v)
      val op = log.entryOp(fs, root, v).getOrElse("")
      val noChangeOp = op == "optimize" || op == "materialize"
      if (cdc.nonEmpty) {
        // CDC-RECORDED rewrite (round 16, v8 `c` lines): the commit's
        // row-level changes for the files it RETIRED are its
        // `.graft-cdc/` files — one change type per file (the writer
        // partitions by it), so each admits as a whole-file partition
        // with the type stamped like a partition value. The physical
        // add/remove movement contributes nothing. A dv rider on the
        // SAME entry (the deleteWhereDV escalation shape) expresses the
        // PERSISTING light files' deltas — composed additively below.
        cdc.foreach { case (ct, name) =>
          val p = fs.makeQualified(new org.apache.hadoop.fs.Path(
            GraftCommitLog.cdcDir(root), name))
          val len = fs.getFileStatus(p).getLen
          parts += GraftSources.wholeFilePartition(
            p.toString, len, pvFor(p.toString, ct))
        }
        acts.foreach { a =>
          if (a.isDv && state.contains(a.path)) {
            val prevMask =
              DeletionVectors.maskOf(conf, root, state.getOrElse(a.path, null), a.path)
            val newMask = DeletionVectors.maskOf(conf, root, a.dv, a.path)
            val delta = newMask.minus(prevMask)
            if (delta.nonEmpty) {
              val p = fs.makeQualified(new org.apache.hadoop.fs.Path(root, a.path))
              val len = fs.getFileStatus(p).getLen
              parts += GraftSources.wholeFilePartition(
                  p.toString, len, pvFor(p.toString, "delete"))
                .copy(dvKeepRuns = delta.flatMap(r => Seq(r._1, r._2)).toArray)
            }
          }
        }
      }
      else if (removes.nonEmpty && !noChangeOp && !skipChange)
        throw new IllegalStateException(
          s"readChangeFeed: commit $v under $root retires ${removes.size} " +
            s"file(s) (COW rewrite / RESTORE, e.g. " +
            s"'${removes.head.path}') without recording change-data files " +
            "— a rewrite moves rows it did not logically change, which a " +
            "row-level feed cannot express; re-run the rewrite with " +
            "changeDataFeed=true (or spark.hadoop.graft.cdf.enabled), " +
            "restart from a fresh checkpoint for a full refresh, or set " +
            "option(\"skipchangecommits\", \"true\") to skip such commits whole")
      else if (removes.isEmpty) acts.foreach { a =>
        a.kind match {
          case 'f' =>
            val p = fs.makeQualified(new org.apache.hadoop.fs.Path(root, a.path))
            val len = fs.getFileStatus(p).getLen
            parts += GraftSources.wholeFilePartition(
              p.toString, len, pvFor(p.toString, "insert"))
          case 'd' =>
            val prevMask =
              DeletionVectors.maskOf(conf, root, state.getOrElse(a.path, null), a.path)
            val newMask = DeletionVectors.maskOf(conf, root, a.dv, a.path)
            require(prevMask.minus(newMask).isEmpty,
              s"readChangeFeed: the deletion vector for '${a.path}' SHRANK " +
                s"at commit $v with no restore — vectors are cumulative " +
                "outside restores; the artifacts disagree with the merge contract")
            val delta = newMask.minus(prevMask)
            if (delta.nonEmpty) {
              val p = fs.makeQualified(new org.apache.hadoop.fs.Path(root, a.path))
              val len = fs.getFileStatus(p).getLen
              parts += GraftSources.wholeFilePartition(
                  p.toString, len, pvFor(p.toString, "delete"))
                .copy(dvKeepRuns = delta.flatMap(r => Seq(r._1, r._2)).toArray)
            }
          case _ => ()
        }
      }
      // roll the live state forward through this commit (skipped change
      // commits still advance it, so later deltas diff the right base)
      acts.foreach { a =>
        a.kind match {
          case 'f' => state = state.updated(a.path, null)
          case 'r' => state = state - a.path
          case 'd' => state = state.updated(a.path, a.dv)
          case _   => ()
        }
      }
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
