package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Deletion-vector artifacts — merge-on-read row-level DELETE for the
  * graft table protocol (docs/TABLE_FORMAT.md).
  *
  * A vector is the FULL set of deleted row ordinals for ONE data file
  * (the `withRowIndex` address space: a row's 0-based position within its
  * file), stored as a hidden artifact under `<table>/.graft-dv/` and
  * attached to the file by a `d <artifact> <path>` commit-log line
  * (`graft-commit v4`). A later vector for the same file REPLACES the
  * mapping — each artifact is cumulative (prior ∪ new), the Delta DV
  * shape — so snapshot resolution needs only the newest `d` per file and
  * time travel needs only the mapping as of the pinned version.
  *
  * Formats (`<uuid>.dv`): two text header lines
  * {{{
  *   graft-dv v1|v2
  *   <root-relative target path>
  * }}}
  * followed by the payload to EOF:
  *   - v1: the deleted ordinals as 8-byte big-endian longs, strictly
  *     ascending. 8 bytes per deleted row — a 1B-row delete is 8 GB.
  *   - v2 (the write format): the ordinals as maximal RUNS, each encoded
  *     as two LEB128 varints `(gap, len-1)` where `gap` = run start −
  *     (previous run's end) (first run: − 0) and `len` ≥ 1 is the run
  *     length. Runs are maximal, so every inter-run gap is ≥ 1 (validated
  *     on read — run-ordinal order is correctness state). A contiguous
  *     1B-row delete is ~6 bytes; read-side memory is O(runs), never
  *     O(deleted rows) — the RoaringBitmap trade expressed in the
  *     protocol's text-adjacent idiom.
  *
  * No count field: artifacts publish by atomic tmp+rename, so a readable
  * artifact is complete, and completeness is re-checked structurally
  * (v1: (len - header) % 8 == 0 + ascending; v2: varint stream ends
  * exactly at EOF on a run boundary). Unlike stats sidecars, a vector is
  * CORRECTNESS state for log-mediated reads: an unreadable one fails the
  * read loudly (never "read the file whole and resurrect deleted rows").
  */
object DeletionVectors {
  val DirName = ".graft-dv"

  /** Well-formed-but-newer header shape for the min-reader diagnostic. */
  private val DeclaredDvRe = """^graft-dv v(\d{1,9})$""".r

  def artifactPath(root: Path, name: String): Path =
    new Path(new Path(root, DirName), name)

  private def freshName(): String =
    java.util.UUID.randomUUID().toString.replace("-", "") + ".dv"

  /** A file's deleted-ordinal set as maximal runs `[start, end)` — the
    * decoded, validated form every read path consumes. Membership is a
    * one-pass ascending-pointer walk (readers see ordinals in file
    * order), cardinality and bounds are O(1)/O(runs). NOT thread-safe and
    * single-pass by design: one instance per partition reader.
    */
  final class Mask private[DeletionVectors] (
      starts: Array[Long], ends: Array[Long]) {
    require(starts.length == ends.length)
    private[this] val n = starts.length
    private[this] var ptr = 0

    def isEmpty: Boolean = n == 0
    def numRuns: Int = n
    /** Total deleted ordinals. */
    val cardinality: Long = {
      var s = 0L; var i = 0
      while (i < n) { s += ends(i) - starts(i); i += 1 }
      s
    }
    /** Largest deleted ordinal; -1 when empty. */
    def last: Long = if (n == 0) -1L else ends(n - 1) - 1L

    /** Is `ord` deleted? Callers MUST probe with non-decreasing ordinals
      * (the file-order contract all partition readers satisfy).
      */
    def masked(ord: Long): Boolean = {
      while (ptr < n && ends(ptr) <= ord) ptr += 1
      ptr < n && starts(ptr) <= ord
    }

    /** All deleted ordinals, ascending — tests and the v1→v2 merge path;
      * O(cardinality), so production reads never call this.
      */
    def ordinals: Iterator[Long] =
      (0 until n).iterator.flatMap(i => (starts(i) until ends(i)).iterator)

    /** Run-level set difference `this − other` as `[start, end)` pairs —
      * O(runs), pure (no pointer state): the CDF path's per-file mask
      * DELTA (ordinals deleted after `other` was recorded). The caller
      * checks containment via cardinalities (vectors are cumulative, so
      * `other ⊆ this` must hold — card(delta) = card(this) − card(other)).
      */
    def minus(other: Mask): Array[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var j = 0
      var i = 0
      while (i < n) {
        var s = starts(i)
        val e = ends(i)
        while (s < e) {
          // advance to the first other-run that could overlap [s, e)
          while (j < other.numRuns && other.endAt(j) <= s) j += 1
          if (j >= other.numRuns || other.startAt(j) >= e) {
            out += ((s, e)); s = e
          } else {
            val os = other.startAt(j)
            val oe = other.endAt(j)
            if (s < os) out += ((s, os))
            s = if (oe < e) oe else e
            if (oe >= e) { /* run consumed; j may cover next run too */ }
            else j += 1
          }
        }
        i += 1
      }
      out.toArray
    }

    private def startAt(i: Int): Long = starts(i)
    private def endAt(i: Int): Long = ends(i)
  }

  object Mask {
    val Empty = new Mask(Array.empty, Array.empty)

    /** Inverse-selection mask (the CDF streaming read): DROP every ordinal
      * OUTSIDE the given keep-runs (flattened `[s0,e0,s1,e1,…]`,
      * ascending, disjoint, end-exclusive) — a reader with this mask
      * keeps exactly the runs' rows. The final drop-run extends to
      * Long.MaxValue, so files of any length prune everything past the
      * last kept run.
      */
    def keepOnly(flat: Array[Long]): Mask = {
      val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ends = scala.collection.mutable.ArrayBuffer.empty[Long]
      var prev = 0L
      var i = 0
      while (i < flat.length) {
        val s = flat(i)
        val e = flat(i + 1)
        require(s >= prev && e > s, "keepOnly: runs must be ascending and disjoint")
        if (s > prev) { starts += prev; ends += s }
        prev = e
        i += 2
      }
      starts += prev
      ends += Long.MaxValue
      new Mask(starts.toArray, ends.toArray)
    }
  }

  /** Hadoop-conf key forcing the legacy v1 write format (tests and
    * mixed-version compat drills): `graft.dv.format = 1`.
    */
  val FormatKey = "graft.dv.format"

  /** Write one vector for `target` (root-relative): the sorted union of
    * `ordinals` (ascending, may contain duplicates) and, when `mergeFrom`
    * names a prior artifact, its ordinals (streamed — never materialized).
    * Returns the new artifact's name and its cardinality (the size of the
    * merged set, known once the stream ends). Executor-safe: unique
    * staged name, atomic rename. Writes v2 (run-length) unless
    * `formatVersion = 1`.
    */
  def write(fs: FileSystem, root: Path, target: String,
      ordinals: Iterator[Long], mergeFrom: Option[String],
      formatVersion: Int = 2, conf: Configuration = null): (String, Long) = {
    require(formatVersion == 1 || formatVersion == 2,
      s"unknown deletion-vector format version $formatVersion")
    // seam resolution wants the CALLER's conf: the Hadoop FS cache can
    // hand back an instance created with an older configuration object
    val store = GraftLogStore.forConf(if (conf != null) conf else fs.getConf)
    val name = freshName()
    val dir = new Path(root, DirName)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.tmp")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16))
    var ok = false
    var cardinality = 0L
    try {
      out.write(s"graft-dv v$formatVersion\n$target\n".getBytes("UTF-8"))
      val prior: Iterator[Long] = mergeFrom match {
        case Some(prev) =>
          streamOrdinals(fs, artifactPath(root, prev), target)
        case None => Iterator.empty
      }
      val bprior = prior.buffered
      var last = Long.MinValue
      // v2 run state
      var runStart = -1L
      var runEnd = -1L // exclusive
      var prevEnd = 0L
      def flushRun(): Unit = if (runStart >= 0) {
        writeVarint(out, runStart - prevEnd)
        writeVarint(out, runEnd - runStart - 1)
        prevEnd = runEnd
        runStart = -1L
      }
      def emit(v: Long): Unit = if (v != last) {
        require(v > last,
          s"deletion-vector ordinals for '$target' not ascending: $v after $last")
        require(v >= 0, s"deletion-vector ordinal for '$target' negative: $v")
        if (formatVersion == 1) out.writeLong(v)
        else if (runStart >= 0 && v == runEnd) runEnd += 1
        else { flushRun(); runStart = v; runEnd = v + 1 }
        last = v
        cardinality += 1
      }
      ordinals.foreach { v =>
        while (bprior.hasNext && bprior.head <= v) emit(bprior.next())
        emit(v)
      }
      while (bprior.hasNext) emit(bprior.next())
      flushRun()
      ok = true
    } finally {
      out.close()
      if (!ok) fs.delete(tmp, false)
    }
    store.publish(fs, tmp, artifactPath(root, name), overwrite = false)
    (name, cardinality)
  }

  // ------------------------------------------------------------- varints

  private def writeVarint(out: java.io.DataOutputStream, v0: Long): Unit = {
    require(v0 >= 0, s"varint value negative: $v0")
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.writeByte(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.writeByte(v.toInt)
  }

  /** Read one LEB128 varint; when `first`, -1 signals clean EOF BEFORE
    * the first byte (the only legal stream end — a `len` varint must
    * follow its gap, so EOF there throws via the caller's `lenM1 >= 0`).
    * Truncation mid-varint throws, and so does a 10-byte encoding whose
    * 63rd-bit payload would flip the sign — a NEGATIVE decoded value
    * could otherwise mask rows the artifact never named (silent
    * deletion, the one failure the contract forbids).
    */
  private def readVarintOrEofStrict(in: java.io.InputStream, where: Path,
      first: Boolean): Long = {
    var b = in.read()
    if (b < 0) {
      require(first, s"deletion vector $where: truncated run")
      return -1L
    }
    var v = 0L
    var shift = 0
    while (true) {
      require(shift <= 63, s"deletion vector $where: varint overflow")
      v |= (b.toLong & 0x7F) << shift
      if ((b & 0x80) == 0) {
        require(v >= 0, s"deletion vector $where: negative varint")
        return v
      }
      shift += 7
      b = in.read()
      require(b >= 0, s"deletion vector $where: truncated varint")
    }
    v // unreachable
  }

  // ------------------------------------------------------------- readers

  private final case class Opened(
      in: java.io.DataInputStream, version: Int, payloadLen: Long)

  /** Open an artifact positioned at its first payload byte, after
    * validating the header and the recorded target. Throws on any
    * mismatch — vectors are correctness state.
    */
  private def openValidated(fs: FileSystem, p: Path,
      expectTarget: String): Opened = {
    val len = fs.getFileStatus(p).getLen
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p), 1 << 16))
    var ok = false
    try {
      // header lines are UTF-8 (targets may carry non-ASCII partition
      // values — escapePathValue passes them through); decode the
      // collected BYTES, never byte-as-char, and count the bytes
      // actually consumed for the v1 alignment check
      var consumed = 0L
      def line(): String = {
        val buf = new java.io.ByteArrayOutputStream(64)
        var b = in.read()
        while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
        require(b == '\n', s"deletion vector $p: truncated header")
        consumed += buf.size() + 1
        new String(buf.toByteArray, "UTF-8")
      }
      val h = line()
      val version = h match {
        case "graft-dv v1" => 1
        case "graft-dv v2" => 2
        // a well-formed header declaring a NEWER format is "reader too
        // old" (upgrade graft), not corruption — say which
        case DeclaredDvRe(d) if d.toInt > GraftCommitLog.MaxDvVersion =>
          throw new ProtocolTooNewException(
            s"deletion vector $p uses format v$d > max supported " +
              s"v${GraftCommitLog.MaxDvVersion} — this reader is too old " +
              "for the table; upgrade graft (the artifact is not corrupt)")
        case other => throw new IllegalArgumentException(
          s"deletion vector $p: bad header '$other'")
      }
      val target = line()
      require(expectTarget == null || target == expectTarget,
        s"deletion vector $p records target '$target', expected '$expectTarget' " +
          "— the commit log and the artifact disagree")
      if (version == 1)
        require((len - consumed) % 8 == 0,
          s"deletion vector $p: payload not 8-byte aligned (len=$len)")
      ok = true
      Opened(in, version, len - consumed)
    } finally if (!ok) in.close()
  }

  /** The artifact's mask as validated runs — O(runs) memory regardless of
    * how many rows are deleted. `expectTarget` (root-relative; null skips
    * the check) cross-checks the artifact against the commit-log mapping
    * that named it.
    */
  def readMask(conf: Configuration, p: Path, expectTarget: String): Mask = {
    val fs = p.getFileSystem(conf)
    val o = openValidated(fs, p, expectTarget)
    try {
      val starts = new scala.collection.mutable.ArrayBuffer[Long]
      val ends = new scala.collection.mutable.ArrayBuffer[Long]
      if (o.version == 2) {
        var prevEnd = 0L
        var first = true
        var gap = readVarintOrEofStrict(o.in, p, first = true)
        while (gap >= 0) {
          require(first || gap >= 1,
            s"deletion vector $p: non-maximal or overlapping runs")
          val start = prevEnd + gap
          require(start >= prevEnd, s"deletion vector $p: run start overflow")
          val lenM1 = readVarintOrEofStrict(o.in, p, first = false)
          require(lenM1 >= 0, s"deletion vector $p: truncated run")
          val end = start + lenM1 + 1
          require(end > start, s"deletion vector $p: run length overflow")
          starts += start; ends += end
          prevEnd = end
          first = false
          gap = readVarintOrEofStrict(o.in, p, first = true)
        }
      } else {
        // v1: 8-byte ordinals, coalesced to runs on the fly
        var last = Long.MinValue
        var done = false
        var runStart = -1L
        var runEnd = -1L
        while (!done) {
          try {
            val v = o.in.readLong()
            require(v > last,
              s"deletion vector $p: ordinals not strictly ascending")
            require(v >= 0, s"deletion vector $p: negative ordinal $v")
            if (runStart >= 0 && v == runEnd) runEnd += 1
            else {
              if (runStart >= 0) { starts += runStart; ends += runEnd }
              runStart = v; runEnd = v + 1
            }
            last = v
          } catch { case _: java.io.EOFException => done = true }
        }
        if (runStart >= 0) { starts += runStart; ends += runEnd }
      }
      new Mask(starts.toArray, ends.toArray)
    } finally o.in.close()
  }

  /** The artifact's deleted ordinals as a lazy ascending stream — the
    * cumulative-merge path ([[write]] with `mergeFrom`): never
    * materializes the prior set. Closes the underlying stream when
    * drained; callers that stop early leak nothing beyond the task.
    */
  private def streamOrdinals(fs: FileSystem, p: Path,
      expectTarget: String): Iterator[Long] = {
    val o = openValidated(fs, p, expectTarget)
    if (o.version == 1) new Iterator[Long] {
      private var nextV = 0L
      private var has = advance()
      private def advance(): Boolean =
        try { nextV = o.in.readLong(); true }
        catch { case _: java.io.EOFException => o.in.close(); false }
      def hasNext: Boolean = has
      def next(): Long = { val v = nextV; has = advance(); v }
    } else new Iterator[Long] {
      private var prevEnd = 0L
      private var cur = 0L
      private var curEnd = 0L // exclusive; cur == curEnd → need next run
      private var first = true
      private var eof = false
      private def fill(): Unit = if (!eof && cur == curEnd) {
        val gap = readVarintOrEofStrict(o.in, p, first = true)
        if (gap < 0) { eof = true; o.in.close() }
        else {
          require(first || gap >= 1,
            s"deletion vector $p: non-maximal or overlapping runs")
          val lenM1 = readVarintOrEofStrict(o.in, p, first = false)
          require(lenM1 >= 0, s"deletion vector $p: truncated run")
          cur = prevEnd + gap
          require(cur >= prevEnd, s"deletion vector $p: run start overflow")
          curEnd = cur + lenM1 + 1
          require(curEnd > cur, s"deletion vector $p: run length overflow")
          prevEnd = curEnd
          first = false
        }
      }
      def hasNext: Boolean = { fill(); !eof }
      def next(): Long = { fill(); val v = cur; cur += 1; v }
    }
  }

  /** The mask a scan partition reads under: the planner's keep-only runs
    * (the CDF streaming read), else its deletion-vector artifact, else
    * null — the partition masks nothing.
    */
  def partitionMask(conf: Configuration, part: GraftInputPartition): Mask =
    if (part.dvKeepRuns != null) Mask.keepOnly(part.dvKeepRuns)
    else if (part.dv == null) null
    else readMask(conf, new Path(part.dv), part.dvTarget)

  /** The mask of the artifact `name` under table `root`; a null name (the
    * file has no vector) is the empty mask.
    */
  def maskOf(conf: Configuration, root: Path, name: String, target: String): Mask =
    if (name == null) Mask.Empty else readMask(conf, artifactPath(root, name), target)

  /** All deleted ordinals of the artifact at `p` (absolute), ascending —
    * O(cardinality) memory; production read paths use [[readMask]].
    */
  def readOrdinals(conf: Configuration, p: Path,
      expectTarget: String): Array[Long] =
    readMask(conf, p, expectTarget).ordinals.toArray

  /** Refuse a listing that carries any deletion vector — for reader
    * surfaces with no mask path (byte-offset streams, the avro reader):
    * silently resurrecting deleted rows is the one failure the contract
    * forbids, so they fail loudly instead.
    */
  def requireNone(files: Seq[GraftSources.ListedFile], surface: String): Unit =
    files.find(_.dv != null).foreach { f =>
      throw new IllegalStateException(
        s"$surface: '${f.path}' carries a deletion vector, which this read " +
          "path cannot apply — materialize the deletes " +
          "(TrainingData.materializeDeletes) first")
    }

  /** Delete `.dv` artifacts under `.graft-dv/` no surviving entry or checkpoint
    * references (single-maintainer op, like the other reclamation APIs:
    * a CONCURRENT deleteWhereDV's already-renamed-but-not-yet-committed
    * artifact would be reclaimed and its commit's readers then fail
    * loudly — never wrongly). Staged `.*.tmp` files are their writer's to
    * clean. Returns the artifact names removed (in dryRun, the names that
    * WOULD be — nothing is deleted). Pass `referenced` when the caller
    * already folded the log (`GraftCommitLog.allReferenced`) to avoid a
    * second full fold.
    */
  def reclaimUnreferenced(fs: FileSystem, root: Path,
      dryRun: Boolean = false, referenced: Set[String] = null,
      notModifiedSince: Long = Long.MaxValue): Seq[String] = {
    val dir = new Path(root, DirName)
    if (!fs.exists(dir)) return Nil
    val live = Option(referenced)
      .getOrElse(GraftCommitLog.allReferenced(fs, root)._2)
    val orphans = fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.endsWith(".dv") &&
        !live.contains(st.getPath.getName) &&
        // age gate (VACUUM RETAIN): a young unreferenced artifact may be
        // an in-flight writer's about-to-be-committed vector
        st.getModificationTime <= notModifiedSince)
      .map(_.getPath)
    if (!dryRun) orphans.foreach(p => fs.delete(p, false))
    orphans.map(_.getName).sorted
  }
}
