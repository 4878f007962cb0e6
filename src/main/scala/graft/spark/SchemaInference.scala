package graft.spark

import graft.core._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Driver-side schema inference for the graft JSON source: a single
  * sampling parse through an [[InferencePlate]] that unions observed shapes
  * (SURVEY §1.3 option 2 — the `spark.read.json`-style two-pass approach).
  *
  * Widening rules: Long ∪ Double = Double; any scalar ∪ String = String;
  * struct ∪ struct = field-wise union; container ∪ scalar = String
  * (value-level mismatches read as null). All-null columns infer StringType.
  */
object SchemaInference {

  sealed trait T
  case object TUnknown extends T
  case object TNull extends T
  case object TBool extends T
  case object TLong extends T
  case object TDouble extends T
  case object TString extends T
  final case class TStruct(fields: mutable.LinkedHashMap[String, T]) extends T
  final case class TArray(var elem: T) extends T

  def merge(a: T, b: T): T = (a, b) match {
    case (TUnknown, x) => x
    case (x, TUnknown) => x
    case (TNull, x)    => x
    case (x, TNull)    => x
    case (x, y) if x == y => x
    case (TLong, TDouble) | (TDouble, TLong) => TDouble
    case (sa: TStruct, sb: TStruct) =>
      sb.fields.foreach { case (k, t) =>
        sa.fields.update(k, sa.fields.get(k).map(merge(_, t)).getOrElse(t))
      }
      sa
    case (aa: TArray, ab: TArray) => aa.elem = merge(aa.elem, ab.elem); aa
    case _ => TString // scalar/scalar or container/scalar conflict
  }

  def toDataType(t: T): DataType = t match {
    case TUnknown | TNull => StringType
    case TBool            => BooleanType
    case TLong            => LongType
    case TDouble          => DoubleType
    case TString          => StringType
    // alphabetize fields at every level, matching spark.read.json inference
    // (and making inferred schemas independent of row arrival order)
    case TStruct(fs)      =>
      StructType(fs.toSeq.sortBy(_._1).map { case (k, v) => StructField(k, toDataType(v)) })
    case TArray(e)        => ArrayType(toDataType(e))
  }

  /** Union of all rows' top-level types across the sampled input. Non-object
    * rows surface as a single `value` column.
    */
  def toStructType(top: T): StructType = toDataType(top) match {
    case s: StructType => s
    case other         => StructType(Seq(StructField("value", other)))
  }

  /** Collects the merged type of every row it observes. */
  final class InferencePlate extends Plate[T] {
    private[this] var acc: T = TUnknown

    // frame stack: (type under construction, pending key for struct frames)
    private[this] val frames = mutable.Stack[AnyRef]()
    private[this] final class SlotFrame(var t: T) // value being built
    private[this] var current: SlotFrame = new SlotFrame(TUnknown)

    private def scalar(t: T): Signal = {
      current.t = merge(current.t, t)
      Signal.Continue
    }

    def nul(): Signal = scalar(TNull)
    def fls(): Signal = scalar(TBool)
    def tru(): Signal = scalar(TBool)
    def map(): Signal = scalar(TStruct(mutable.LinkedHashMap.empty))
    def arr(): Signal = scalar(TArray(TUnknown))
    def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal =
      scalar(if (decIdx == -2) TDouble // NaN / ±Infinity tokens
        else if (decIdx < 0 && expIdx < 0) TLong else TDouble)
    def str(s: CharSequence): Signal = scalar(TString)

    def nestMap(pathComponent: CharSequence): Signal = {
      val st = current.t match {
        case s: TStruct => s
        case other =>
          val s = TStruct(mutable.LinkedHashMap.empty)
          current.t = if (other == TUnknown || other == TNull) s else merge(other, s)
          current.t match { case ss: TStruct => ss; case _ => s }
      }
      frames.push((current, pathComponent.toString, st))
      current = new SlotFrame(st.fields.getOrElse(pathComponent.toString, TUnknown))
      Signal.Continue
    }

    def nestArr(): Signal = {
      val at = current.t match {
        case a: TArray => a
        case other =>
          val a = TArray(TUnknown)
          current.t = if (other == TUnknown || other == TNull) a else merge(other, a)
          current.t match { case aa: TArray => aa; case _ => a }
      }
      frames.push((current, null, at))
      current = new SlotFrame(at.elem)
      Signal.Continue
    }

    def nestMeta(pathComponent: CharSequence): Signal = nestMap(pathComponent)

    def unnest(): Signal = {
      frames.pop() match {
        case (parent: SlotFrame, key: String, st: TStruct) =>
          st.fields.update(key, current.t)
          current = parent
        case (parent: SlotFrame, _, at: TArray) =>
          at.elem = current.t
          current = parent
        case _ => ()
      }
      Signal.Continue
    }

    def finishRow(): Unit = {
      acc = merge(acc, current.t)
      current = new SlotFrame(TUnknown)
      frames.clear()
    }

    def finishBatch(terminal: Boolean): T = acc
    def skipped(bytes: Int): Unit = ()
  }
}
