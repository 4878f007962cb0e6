package graft.spark

import graft.core.{KeyCruise, KeyProbe, Plate, Signal}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

import scala.collection.mutable

/** Pushed-down sub-variant extraction (`SupportsPushDownVariantExtractions`):
  * per row, emit one VARIANT value per requested object-key path, byte-
  * skipping everything outside the union of path prefixes — the Mison skip
  * applied to open-typed rows. Only VariantType targets are accepted at
  * the ScanBuilder (sub-tree capture has no cast semantics to get wrong);
  * a missing path yields null, exactly like `variant_get`.
  *
  * Paths are tries over object keys; a capture opens when the parse enters
  * a terminal node's value and closes at its matching unnest. Overlapping
  * requests (one path a prefix of another) nest naturally: events feed
  * every active capture, and trie descent continues inside captures.
  */
final class PathVariantPlate(
    paths: Array[Array[String]],
    push: InternalRow => Unit) extends Plate[Long] with KeyProbe {

  private final class Node {
    val children = new mutable.HashMap[String, Node]
    val terminals = new mutable.ArrayBuffer[Int] // output column indices
  }

  private[this] val root: Node = {
    val r = new Node
    paths.zipWithIndex.foreach { case (segs, col) =>
      var n = r
      segs.foreach(seg => n = n.children.getOrElseUpdate(seg, new Node))
      n.terminals += col
    }
    r
  }

  // one capture may serve several identical paths
  private final class Active(val cols: Seq[Int]) {
    val capture = new VariantCapture
    var openNests = 0 // nests opened INSIDE the captured subtree
    var isRoot = false // '$' capture: closes at finishRow, not at an unnest
  }

  // Key-cruise probe ([[graft.core.KeyCruise]]): only the trie's depth-1
  // heads can start a capture, so every other row-level key skips with no
  // plate notification. A root terminal ('$' capture) wants every key.
  override val keyCruise: KeyCruise =
    KeyCruise(if (root.terminals.nonEmpty) null else root.children.keys)

  private[this] val outputs = new Array[Any](paths.length)
  private[this] val active = new mutable.ArrayDeque[Active] // innermost first
  private[this] val nodeStack = new mutable.ArrayDeque[Node] // null = off-trie
  private[this] var skipPending = false
  private[this] var rowCount = 0L
  private[this] var skippedBytes = 0L

  resetRow()

  private def resetRow(): Unit = {
    java.util.Arrays.fill(outputs, null)
    active.clear()
    nodeStack.clear()
    nodeStack.prepend(root)
    skipPending = false
    if (keyCruise != null) keyCruise.rowStart()
    if (root.terminals.nonEmpty) { // '$' requested: capture the whole row
      val a = new Active(root.terminals.toSeq)
      a.isRoot = true
      active.prepend(a)
    }
  }

  private def enterNest(node: Node): Unit = {
    active.foreach(_.openNests += 1)
    if (node != null && node.terminals.nonEmpty)
      active.prepend(new Active(node.terminals.toSeq)) // capture opens: its
        // subtree events start now (openNests counts from 0)
    nodeStack.prepend(node)
  }

  def nestMap(pathComponent: CharSequence): Signal = {
    val cur = nodeStack.head
    val next = if (cur == null) null else cur.children.getOrElse(pathComponent.toString, null)
    if (active.isEmpty && next == null) {
      // not on any requested path and not inside a capture: byte-skip
      skipPending = true
      return Signal.SkipColumn
    }
    active.foreach(_.capture.nestMap(pathComponent))
    enterNest(next)
    Signal.Continue
  }

  def nestArr(): Signal = {
    if (active.isEmpty) {
      // array elements cannot match object-key paths: byte-skip
      skipPending = true
      return Signal.SkipColumn
    }
    active.foreach(_.capture.nestArr())
    enterNest(null)
    Signal.Continue
  }

  def nestMeta(pathComponent: CharSequence): Signal = nestMap(pathComponent)

  def unnest(): Signal = {
    if (skipPending) { skipPending = false; return Signal.Continue }
    nodeStack.removeHead()
    // the innermost capture whose own nest is closing finalizes here;
    // everything else records the unnest
    active.foreach { a =>
      if (!(a.openNests == 0 && !a.isRoot)) a.capture.unnest()
    }
    if (active.nonEmpty && active.head.openNests == 0 && !active.head.isRoot) {
      val done = active.removeHead()
      val v = done.capture.finish()
      done.cols.foreach(outputs(_) = v)
    }
    active.foreach(_.openNests -= 1)
    Signal.Continue
  }

  def nul(): Signal = { active.foreach(_.capture.nul()); Signal.Continue }
  def fls(): Signal = { active.foreach(_.capture.bool(false)); Signal.Continue }
  def tru(): Signal = { active.foreach(_.capture.bool(true)); Signal.Continue }
  def map(): Signal = { active.foreach(_.capture.emptyMap()); Signal.Continue }
  def arr(): Signal = { active.foreach(_.capture.emptyArr()); Signal.Continue }
  def str(s: CharSequence): Signal = { active.foreach(_.capture.str(s)); Signal.Continue }
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = {
    active.foreach(_.capture.num(s, decIdx, expIdx)); Signal.Continue
  }

  def finishRow(): Unit = {
    // root ('$') captures close here; non-root actives cannot remain in a
    // well-formed stream (defensive: drop them as absent)
    active.foreach { a =>
      if (a.isRoot) {
        val v = a.capture.finish()
        a.cols.foreach(outputs(_) = v)
      }
    }
    push(new GenericInternalRow(outputs.clone()))
    rowCount += 1
    resetRow()
  }

  def finishBatch(terminal: Boolean): Long = rowCount
  def skipped(bytes: Int): Unit = skippedBytes += bytes
  def totalSkippedBytes: Long = skippedBytes
}
