package graft.core

/** The push-based columnar event-stream visitor — the engine's core protocol
  * (clean-room re-expression of reference Plate.scala:23-41 semantics).
  *
  * A producer (JSON/CSV parser, [[EventCursor]] replay, …) pushes a flat
  * event stream for many rows at once; the consumer materializes whatever
  * batch representation it wants and returns it from `finishBatch`.
  *
  * Event grammar per row:
  *   value      := scalar | object | array
  *   scalar     := nul | fls | tru | num | str | map (empty {}) | arr (empty [])
  *   object     := (nestMap(key) value unnest)*
  *   array      := (nestArr value unnest)*
  *   meta       := nestMeta(key) value unnest   (protocol-only; no JSON/CSV producer)
  *   row        := value finishRow
  *
  * `skipped(bytes)` is a metrics side-channel reporting bytes the producer
  * pruned due to SkipColumn/SkipRow pushdown (accuracy ±1-2 bytes).
  */
/** Optional plate capability — Mison-style key pushdown (Li et al., VLDB
  * 2017; the same family as the reference's SkipColumn, taken one step
  * further): a producer that sees this on its plate may skip a whole
  * `"key": value` pair at ROW depth (depth 1) with NO plate notification
  * (no nestMap/unnest, no skipped-value events) whenever `cruisableKey`
  * returns true. The plate must therefore answer false for every key it
  * could act on (schema columns, filter anchors, capture-alls). Only
  * consulted for unescaped, ASCII-verified key bytes; anything else takes
  * the ordinary nestMap path.
  */
trait KeyProbe {
  def cruisableKey(bytes: Array[Byte], off: Int, len: Int): Boolean

  /** Opt back into the pre-round-15 BLIND saturation tail skip
    * (`option("saturation", "fast")`): once a row saturates, its tail is
    * byte-skipped in one aggregate scan without key inspection — maximum
    * projection-skip throughput, at the documented cost that duplicate
    * keys after saturation keep the FIRST value (spark.read.json is
    * last-wins). Default false: the tail is scanned by the OPTIMISTIC
    * skip (round 16) — full-speed blind scan that falls back to exact
    * re-parsing only at candidate duplicates of wanted keys — or, when
    * [[cruiseKeyFirstBytes]] is unavailable, by the chained key cruise.
    * Both default paths re-parse wanted-key duplicates (exact parity).
    */
  def fastSaturationTail: Boolean = false

  /** 256-bit bitmap (4 longs, bit = first UTF-8 byte) over every key this
    * probe could act on (the keys [[cruisableKey]] answers false for),
    * plus '\\' (any wanted key may arrive \u-escaped) and '"' when an
    * empty-string key is wanted. Enables the parser's OPTIMISTIC
    * saturated-tail scan: the blind SWAR skip watches quote-follower
    * bytes against this bitmap and only falls back to exact key
    * confirmation on a hit. null (the default) disables the optimistic
    * path — the chained key cruise consumes saturated tails instead.
    */
  def cruiseKeyFirstBytes: Array[Long] = null

  /** Raw byte length of the longest wanted key (0 when unavailable);
    * bounds the optimistic confirmation scan — a row-depth key longer
    * than 6x this (the worst \u-escape inflation) cannot be wanted.
    */
  def cruiseMaxKeyLen: Int = 0
}

object KeyProbe {
  /** Build [[KeyProbe.cruiseKeyFirstBytes]] from a wanted-key set. */
  def firstByteBitmap(wanted: Array[Array[Byte]]): Array[Long] =
    if (wanted == null) null
    else {
      val bm = new Array[Long](4)
      def set(b: Int): Unit = bm((b & 0xFF) >>> 6) |= 1L << (b & 63)
      wanted.foreach(w => if (w.length == 0) set('"') else set(w(0)))
      set('\\')
      bm
    }

  /** Build [[KeyProbe.cruiseMaxKeyLen]] from a wanted-key set. */
  def maxKeyLen(wanted: Array[Array[Byte]]): Int =
    if (wanted == null) 0
    else wanted.foldLeft(0)((m, w) => math.max(m, w.length))
}

/** Optional plate capability — verbatim raw-text capture of container
  * values bound for STRING lanes (spark.read.json parity, probed round 15:
  * an object/array value whose schema target is StringType reads back as
  * its exact source text, whitespace included, at every nesting level —
  * top-level column, struct child, array element, map value). A producer
  * that sees this on its plate asks `wantsRawValue()` at each container
  * value start; on true it byte-skips the value (the same scanner as
  * SkipColumn — string boundaries and bracket depth only, so internal
  * structural errors are best-effort, the skip scanner's documented
  * elision) and delivers the exact byte span via `rawValue` IN PLACE OF
  * the container's event stream. The matching `unnest()` still fires
  * (the value closes its nest like any scalar).
  */
trait RawValueCapture {
  /** Would a container value starting now land in a verbatim-text lane? */
  def wantsRawValue(): Boolean
  /** The captured value's exact UTF-8 bytes (valid only for this call). */
  def rawValue(bytes: Array[Byte], off: Int, len: Int): Signal
}

abstract class Plate[A] { self =>
  def nul(): Signal
  def fls(): Signal
  def tru(): Signal
  /** Empty-object scalar: emitted only for `{}`. */
  def map(): Signal
  /** Empty-array scalar: emitted only for `[]`. */
  def arr(): Signal
  /** Lazy number: raw text plus index of '.' and of 'e'/'E' within `s`
    * (-1 when absent). Never eagerly converted by the producer.
    */
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal
  def str(s: CharSequence): Signal

  def nestMap(pathComponent: CharSequence): Signal
  def nestArr(): Signal
  def nestMeta(pathComponent: CharSequence): Signal
  def unnest(): Signal

  def finishRow(): Unit
  /** Batch boundary. `terminal = false` per absorbed chunk, `true` at EOF.
    * Returns the consumer's materialized batch.
    */
  def finishBatch(terminal: Boolean): A

  def skipped(bytes: Int): Unit

  /** Functor over the batch result type. */
  final def mapDelegate[B](f: A => B): Plate[B] = new Plate[B] {
    def nul(): Signal = self.nul()
    def fls(): Signal = self.fls()
    def tru(): Signal = self.tru()
    def map(): Signal = self.map()
    def arr(): Signal = self.arr()
    def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = self.num(s, decIdx, expIdx)
    def str(s: CharSequence): Signal = self.str(s)
    def nestMap(pathComponent: CharSequence): Signal = self.nestMap(pathComponent)
    def nestArr(): Signal = self.nestArr()
    def nestMeta(pathComponent: CharSequence): Signal = self.nestMeta(pathComponent)
    def unnest(): Signal = self.unnest()
    def finishRow(): Unit = self.finishRow()
    def finishBatch(terminal: Boolean): B = f(self.finishBatch(terminal))
    def skipped(bytes: Int): Unit = self.skipped(bytes)
  }
}

/** Identity wrapper for selective override — pushdown plates subclass this
  * and override just the `nest*` methods they want to steer.
  */
class DelegatingPlate[A](protected val delegate: Plate[A]) extends Plate[A] {
  def nul(): Signal = delegate.nul()
  def fls(): Signal = delegate.fls()
  def tru(): Signal = delegate.tru()
  def map(): Signal = delegate.map()
  def arr(): Signal = delegate.arr()
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = delegate.num(s, decIdx, expIdx)
  def str(s: CharSequence): Signal = delegate.str(s)
  def nestMap(pathComponent: CharSequence): Signal = delegate.nestMap(pathComponent)
  def nestArr(): Signal = delegate.nestArr()
  def nestMeta(pathComponent: CharSequence): Signal = delegate.nestMeta(pathComponent)
  def unnest(): Signal = delegate.unnest()
  def finishRow(): Unit = delegate.finishRow()
  def finishBatch(terminal: Boolean): A = delegate.finishBatch(terminal)
  def skipped(bytes: Int): Unit = delegate.skipped(bytes)
}

/** Tee one event stream into a `main` plate and a `side` (metrics/observer)
  * plate, combining their steering wishes with [[Signal.and]]. Only `main`'s
  * `finishBatch` result survives (reference MultiplexingPlate.scala:23-88).
  */
final class MultiplexingPlate[A](main: Plate[A], side: Plate[Unit]) extends Plate[A] {
  def nul(): Signal = Signal.and(main.nul(), side.nul())
  def fls(): Signal = Signal.and(main.fls(), side.fls())
  def tru(): Signal = Signal.and(main.tru(), side.tru())
  def map(): Signal = Signal.and(main.map(), side.map())
  def arr(): Signal = Signal.and(main.arr(), side.arr())
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal =
    Signal.and(main.num(s, decIdx, expIdx), side.num(s, decIdx, expIdx))
  def str(s: CharSequence): Signal = Signal.and(main.str(s), side.str(s))
  def nestMap(pathComponent: CharSequence): Signal =
    Signal.and(main.nestMap(pathComponent), side.nestMap(pathComponent))
  def nestArr(): Signal = Signal.and(main.nestArr(), side.nestArr())
  def nestMeta(pathComponent: CharSequence): Signal =
    Signal.and(main.nestMeta(pathComponent), side.nestMeta(pathComponent))
  def unnest(): Signal = Signal.and(main.unnest(), side.unnest())
  def finishRow(): Unit = { main.finishRow(); side.finishRow() }
  def finishBatch(terminal: Boolean): A = {
    side.finishBatch(terminal)
    main.finishBatch(terminal)
  }
  def skipped(bytes: Int): Unit = { main.skipped(bytes); side.skipped(bytes) }
}

/** Accept-everything plate that drops all events (Continue to all). */
class NullPlate extends Plate[Unit] {
  def nul(): Signal = Signal.Continue
  def fls(): Signal = Signal.Continue
  def tru(): Signal = Signal.Continue
  def map(): Signal = Signal.Continue
  def arr(): Signal = Signal.Continue
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = Signal.Continue
  def str(s: CharSequence): Signal = Signal.Continue
  def nestMap(pathComponent: CharSequence): Signal = Signal.Continue
  def nestArr(): Signal = Signal.Continue
  def nestMeta(pathComponent: CharSequence): Signal = Signal.Continue
  def unnest(): Signal = Signal.Continue
  def finishRow(): Unit = ()
  def finishBatch(terminal: Boolean): Unit = ()
  def skipped(bytes: Int): Unit = ()
}

/** Count `finishRow`s per batch; the count resets at each batch boundary
  * (reference harness/RowCountHarness.scala:59-92).
  */
/** Row counter that prunes every nested value: `nest*` returns SkipColumn
  * so the parser byte-skips all container content (the SWAR scan), while
  * `finishRow` still fires per row — the cheapest possible exact COUNT(*)
  * over raw JSON/CSV (backs the DSv2 aggregate pushdown).
  */
final class SkipAllCountPlate extends Plate[Long] {
  private[this] var count = 0L
  private[this] var skippedTotal = 0L
  def total: Long = count
  /** Bytes the parser skipped without tokenizing (every column value). */
  def skippedBytes: Long = skippedTotal
  def nul(): Signal = Signal.Continue
  def fls(): Signal = Signal.Continue
  def tru(): Signal = Signal.Continue
  def map(): Signal = Signal.Continue
  def arr(): Signal = Signal.Continue
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = Signal.Continue
  def str(s: CharSequence): Signal = Signal.Continue
  def nestMap(pathComponent: CharSequence): Signal = Signal.SkipColumn
  def nestArr(): Signal = Signal.SkipColumn
  def nestMeta(pathComponent: CharSequence): Signal = Signal.SkipColumn
  def unnest(): Signal = Signal.Continue
  def finishRow(): Unit = count += 1
  def finishBatch(terminal: Boolean): Long = count
  def skipped(bytes: Int): Unit = skippedTotal += bytes
}

final class RowCountPlate extends Plate[Long] {
  private[this] var count = 0L
  def nul(): Signal = Signal.Continue
  def fls(): Signal = Signal.Continue
  def tru(): Signal = Signal.Continue
  def map(): Signal = Signal.Continue
  def arr(): Signal = Signal.Continue
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = Signal.Continue
  def str(s: CharSequence): Signal = Signal.Continue
  def nestMap(pathComponent: CharSequence): Signal = Signal.Continue
  def nestArr(): Signal = Signal.Continue
  def nestMeta(pathComponent: CharSequence): Signal = Signal.Continue
  def unnest(): Signal = Signal.Continue
  def finishRow(): Unit = count += 1
  def finishBatch(terminal: Boolean): Long = { val c = count; count = 0L; c }
  def skipped(bytes: Int): Unit = ()
}
