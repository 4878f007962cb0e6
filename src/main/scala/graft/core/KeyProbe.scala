package graft.core

import java.nio.charset.StandardCharsets.UTF_8

/** Optional plate capability — Mison-style key pushdown (Li et al., VLDB
  * 2017; the same family as the reference's SkipColumn, taken one step
  * further): a producer that sees this on its plate may skip a whole
  * `"key": value` pair at ROW depth (depth 1) with NO plate notification
  * (no nestMap/unnest, no skipped-value events) whenever the plate's
  * [[KeyCruise]] rules the key out.
  */
trait KeyProbe {
  /** This plate's key cruise; null turns it off, and every key then takes
    * the ordinary nestMap path.
    */
  def keyCruise: KeyCruise
}

/** The key-cruise probe every [[KeyProbe]] plate shares. A row-depth key
  * is cruisable unless it is one of the plate's `wanted` keys — every key
  * the plate could act on (schema columns, filter anchors, capture heads).
  * Only consulted for unescaped, ASCII-verified key bytes; anything else
  * takes the ordinary nestMap path.
  *
  * Verdicts are cached by the key's ARRIVAL POSITION among the row's
  * probed keys ([[KeyOrderCache]]): without the cache every schema key
  * pays a linear scan over the wanted names just to learn it is NOT
  * cruisable (~1/7 of full-parse samples). The plate calls [[rowStart]]
  * as each row begins.
  *
  * @param fastSaturationTail opt back into the pre-round-15 BLIND
  *   saturation tail skip (`option("saturation", "fast")`): once a row
  *   saturates, its tail is byte-skipped in one aggregate scan without key
  *   inspection — maximum projection-skip throughput, at the documented
  *   cost that duplicate keys after saturation keep the FIRST value
  *   (spark.read.json is last-wins). Default false: the tail is scanned by
  *   the OPTIMISTIC skip (round 16) — full-speed blind scan that falls back
  *   to exact re-parsing only at candidate duplicates of wanted keys
  *   ([[keyFirstBytes]]). It re-parses wanted-key duplicates (exact parity).
  */
final class KeyCruise private (wanted: Array[String], val fastSaturationTail: Boolean) {
  private[this] val order = new KeyOrderCache(wanted)
  private[this] var pos = 0

  /** 256-bit bitmap (4 longs, bit = first UTF-8 byte) over every wanted
    * key, plus '\\' (any wanted key may arrive \u-escaped) and '"' when an
    * empty-string key is wanted. The parser's OPTIMISTIC saturated-tail
    * scan watches quote-follower bytes against it and only falls back to
    * exact key confirmation on a hit.
    */
  val keyFirstBytes: Array[Long] = {
    val bm = new Array[Long](4)
    def set(b: Int): Unit = bm((b & 0xFF) >>> 6) |= 1L << (b & 63)
    wanted.foreach(w => if (w.isEmpty) set('"') else set(w.getBytes(UTF_8)(0)))
    set('\\')
    bm
  }

  /** Raw byte length of the longest wanted key; bounds the optimistic
    * confirmation scan — a row-depth key longer than 6x this (the worst
    * \u-escape inflation) cannot be wanted.
    */
  val maxKeyLen: Int = wanted.foldLeft(0)((m, w) => math.max(m, w.getBytes(UTF_8).length))

  /** A new row begins: key arrival positions count from 0 again. */
  def rowStart(): Unit = pos = 0

  /** May the producer consume this row-depth key with no plate event? */
  def cruisableKey(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    val p = pos
    pos = p + 1
    order.indexOf(bytes, off, len, p) < 0
  }
}

object KeyCruise {
  /** The cruise over `wanted`, or null (the cruise off) when `wanted` is. */
  def apply(wanted: Iterable[String], fastSaturationTail: Boolean = false): KeyCruise =
    if (wanted == null) null
    else new KeyCruise(wanted.toArray.distinct, fastSaturationTail)
}

/** Name → index resolution for object keys, cached by ARRIVAL POSITION:
  * rows almost always repeat the same key order, so the steady state is
  * one compare against the key last seen at that position — a masked
  * little-endian long for keys of 8 bytes or less (the common case by far;
  * `Arrays.equals`' vectorized intro costs more than the whole key at these
  * lengths), one `Arrays.equals` range check past that. A miss scans
  * `names` and relearns the position. Entries verify against the actual
  * key, so a changed key order costs a relearn, never a wrong answer.
  *
  * Observed positions exceed the name count under pruning (19 skipped
  * keys still occupy positions), so the cache grows with the widest row.
  * Keys arrive as the parser's zero-copy [[ByteSliceCharSeq]] views
  * (verified ASCII, compared as raw bytes), as decoded strings (escaped or
  * UTF-8 keys), or as raw key bytes ([[KeyCruise]]).
  */
class KeyOrderCache(names: Array[String]) {
  private[this] val nameBytes: Array[Array[Byte]] = names.map(_.getBytes(UTF_8))
  private[this] val namePacked: Array[Long] =
    nameBytes.map(b => Swar.packPrefix(b, 0, b.length))

  private[this] var cap = names.length + 8
  private[this] var orderNames = new Array[String](cap) // null: learned from raw bytes
  private[this] var orderBytes = new Array[Array[Byte]](cap)
  private[this] var orderLen = { val a = new Array[Int](cap); java.util.Arrays.fill(a, -1); a }
  private[this] var orderPacked = new Array[Long](cap)
  private[this] var orderIdx = new Array[Int](cap)

  /** Index of `name` in `names` (-1 when absent); `pos` is the key's
    * arrival position within its object.
    */
  final def indexOf(name: CharSequence, pos: Int): Int = name match {
    case v: ByteSliceCharSeq => indexOf(v.bytes, v.offset, v.length, pos)
    case _ =>
      if (pos < cap && orderNames(pos) != null && orderNames(pos).contentEquals(name))
        orderIdx(pos)
      else {
        val i = names.indexWhere(_.contentEquals(name))
        if (i >= 0) learn(pos, names(i), nameBytes(i), i)
        else { // absent key: remember the prune
          val s = name.toString
          learn(pos, s, s.getBytes(UTF_8), -1)
        }
        i
      }
  }

  /** [[indexOf]] for a key given as its UTF-8 bytes. */
  final def indexOf(bytes: Array[Byte], off: Int, len: Int, pos: Int): Int = {
    if (pos < cap && orderLen(pos) == len) {
      if (len <= 8) {
        if (Swar.packPrefix(bytes, off, len) == orderPacked(pos)) return orderIdx(pos)
      } else if (java.util.Arrays.equals(orderBytes(pos), 0, len, bytes, off, off + len))
        return orderIdx(pos)
    }
    val packed = Swar.packPrefix(bytes, off, len)
    var i = 0
    while (i < nameBytes.length) {
      val w = nameBytes(i)
      if (w.length == len && {
        if (len <= 8) packed == namePacked(i)
        else java.util.Arrays.equals(w, 0, len, bytes, off, off + len)
      }) {
        learn(pos, names(i), w, i)
        return i
      }
      i += 1
    }
    // absent key: copy it (bytes is the parse buffer)
    learn(pos, null, java.util.Arrays.copyOfRange(bytes, off, off + len), -1)
    -1
  }

  private def learn(pos: Int, name: String, bytes: Array[Byte], idx: Int): Unit = {
    while (pos >= cap) { // grow to cover this key position (amortized)
      val old = cap
      cap *= 2
      orderNames = java.util.Arrays.copyOf(orderNames, cap)
      orderBytes = java.util.Arrays.copyOf(orderBytes, cap)
      orderLen = java.util.Arrays.copyOf(orderLen, cap)
      java.util.Arrays.fill(orderLen, old, cap, -1)
      orderPacked = java.util.Arrays.copyOf(orderPacked, cap)
      orderIdx = java.util.Arrays.copyOf(orderIdx, cap)
    }
    orderNames(pos) = name
    orderBytes(pos) = bytes
    orderLen(pos) = bytes.length
    orderPacked(pos) = Swar.packPrefix(bytes, 0, bytes.length)
    orderIdx(pos) = idx
  }
}
