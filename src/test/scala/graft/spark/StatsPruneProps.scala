package graft.spark

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Soundness property for data skipping: whenever
  * FilterEval.definitelyEmpty says a file's (min, max, nulls, rows) rule
  * out a filter, NO value in the file may satisfy it — a wrongly-dropped
  * file loses rows with no residual to save them. Checked against a
  * direct per-value evaluator over randomly generated files and filters
  * (longs incl. 2^53-adjacent, doubles incl. NaN/-0.0/infinities, strings
  * incl. supplementary characters).
  */
object StatsPruneProps extends Properties("StatsPrune") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4000)

  private val genLong: Gen[Any] = Gen.oneOf(
    Gen.chooseNum(-10L, 10L),
    Gen.chooseNum(Long.MinValue, Long.MaxValue),
    Gen.oneOf((1L << 53) - 1, 1L << 53, (1L << 53) + 1))
    .map(java.lang.Long.valueOf(_))
  private val genDouble: Gen[Any] = Gen.oneOf(
    Gen.chooseNum(-5.0, 5.0),
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue))
    .map(java.lang.Double.valueOf(_))
  private val genString: Gen[Any] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(6)),
    Gen.oneOf("", "a", "", "😀", "za", "a\tb"))
    .map(s => UTF8String.fromString(s))

  // direct evaluation of one filter against one value (None = null)
  private def cmpOpt(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: UTF8String, y: UTF8String) => Some(x.binaryCompare(y))
    case (x: java.lang.Long, y: java.lang.Long) => Some(java.lang.Long.compare(x, y))
    case (x: java.lang.Double, y: java.lang.Double) =>
      // NaN last and -0.0 equal to 0.0, as Spark orders doubles
      Some(org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(x, y))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => Some(x.compareTo(y))
    case _ => None
  }

  private def satisfies(f: Filter, v: Option[Any]): Boolean = (f, v) match {
    case (IsNull(_), None) => true
    case (IsNull(_), _) => false
    case (IsNotNull(_), Some(_)) => true
    case (IsNotNull(_), None) => false
    case (_, None) => false // comparisons never match null
    case (EqualTo(_, l), Some(x)) => cmpOpt(x, l).contains(0)
    case (GreaterThan(_, l), Some(x)) => cmpOpt(x, l).exists(_ > 0)
    case (GreaterThanOrEqual(_, l), Some(x)) => cmpOpt(x, l).exists(_ >= 0)
    case (LessThan(_, l), Some(x)) => cmpOpt(x, l).exists(_ < 0)
    case (LessThanOrEqual(_, l), Some(x)) => cmpOpt(x, l).exists(_ <= 0)
    case (In(_, ls), Some(x)) => ls.exists(l => cmpOpt(x, l).contains(0))
    case (StringStartsWith(_, p), Some(x: UTF8String)) => x.toString.startsWith(p)
    case _ => false
  }

  private def mkFilters(lit: Any, extra: Any): Seq[Filter] = {
    val base = Seq[Filter](
      EqualTo("c", lit), GreaterThan("c", lit), GreaterThanOrEqual("c", lit),
      LessThan("c", lit), LessThanOrEqual("c", lit),
      In("c", Array(lit, extra)), IsNull("c"), IsNotNull("c"))
    lit match {
      case s: UTF8String if s.toString.nonEmpty =>
        base :+ StringStartsWith("c", s.toString.take(2))
      case _ => base
    }
  }

  private def sound(vals: List[Option[Any]], lit: Any, extra: Any): Prop = {
    val present = vals.flatten
    val nulls = vals.count(_.isEmpty).toLong
    val rows = vals.length.toLong
    def cmp(a: Any, b: Any): Int = cmpOpt(a, b).get
    val min = if (present.isEmpty) null
      else present.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
    val max = if (present.isEmpty) null
      else present.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
    Prop.all(mkFilters(lit, extra).map { f =>
      val pruned = FilterEval.definitelyEmpty(f, min, max, nulls, rows)
      val survivor = if (pruned) vals.find(v => satisfies(f, v)) else None
      Prop(survivor.isEmpty) :| {
        s"UNSOUND: $f pruned file(min=$min, max=$max, nulls=$nulls, rows=$rows) " +
          s"but $survivor satisfies it"
      }
    }: _*)
  }

  private def fileAndLits(gen: Gen[Any]): Gen[(List[Option[Any]], Any, Any)] =
    for {
      vals <- Gen.listOfN(6, Gen.option(gen))
      lit <- gen
      extra <- gen
    } yield (vals, lit, extra)

  property("never prunes a file containing a satisfying long") =
    forAll(fileAndLits(genLong)) { case (vals, lit, extra) => sound(vals, lit, extra) }

  property("never prunes a file containing a satisfying double") =
    forAll(fileAndLits(genDouble)) { case (vals, lit, extra) => sound(vals, lit, extra) }

  property("never prunes a file containing a satisfying string") =
    forAll(fileAndLits(genString)) { case (vals, lit, extra) => sound(vals, lit, extra) }

  // ------------------------------------------------ sidecar/manifest codec

  private val genDecimal: Gen[java.math.BigDecimal] = for {
    unscaled <- Gen.oneOf(
      Gen.chooseNum(-1000000L, 1000000L).map(java.math.BigInteger.valueOf),
      Gen.const(new java.math.BigInteger("9" * 38)),
      Gen.const(new java.math.BigInteger("-" + "9" * 38)))
    scale <- Gen.chooseNum(0, 30)
  } yield new java.math.BigDecimal(unscaled, scale)

  private val genValidString: Gen[UTF8String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => UTF8String.fromString(s.take(20))),
    Gen.oneOf("", "😀", "a\tb\nc", "za", "\u0000x").map(UTF8String.fromString))
  private val genRawBytes: Gen[UTF8String] = Gen.nonEmptyListOf(
    Gen.chooseNum(-128, 127).map(_.toByte)).map(bs => UTF8String.fromBytes(bs.toArray))

  private val genColStats: Gen[FileStats.ColStats] = for {
    kind <- Gen.oneOf('i', 'f', 's', 'b', 'd')
    inexact <- if (kind == 's') Gen.oneOf(true, false) else Gen.const(false)
    mk: Gen[Any] = kind match {
      case 'i' => genLong
      case 'f' => genDouble
      case 's' => if (inexact) genRawBytes else genValidString
      case 'b' => Gen.oneOf(true, false).map(java.lang.Boolean.valueOf)
      case 'd' => genDecimal
    }
    mn <- Gen.option(mk)
    mx <- Gen.option(mk)
    nulls <- Gen.chooseNum(0L, 100L)
    sum <- kind match { // exact write-order sums ride the same col line
      case 'i' => Gen.option(genLong)
      case 'f' => Gen.option(genDouble)
      case 'd' => Gen.option(genDecimal.map(identity[Any]))
      case _ => Gen.const(None)
    }
    bloomVals <- kind match { // blooms exist for 'i'/'s' kinds only
      case 'i' => Gen.option(Gen.listOfN(8, Gen.chooseNum(Long.MinValue, Long.MaxValue)))
      case 's' => Gen.option(Gen.listOfN(8, Gen.alphaNumStr.map(_.take(10))))
      case _ => Gen.const(None)
    }
  } yield FileStats.ColStats(kind, nulls, mn.orNull, mx.orNull,
    minExact = !(inexact && mn.isDefined), maxExact = !(inexact && mx.isDefined),
    sum = sum.orNull,
    bloom = bloomVals.map { vs =>
      val bits = new Array[Long](FileStats.BloomBits >>> 6)
      vs.foreach { v =>
        val h = v match {
          case l: Long => FileStats.bloomHashLong(l)
          case s: String => FileStats.bloomHashBytes(s.getBytes("UTF-8"))
        }
        var i = 0
        while (i < FileStats.BloomK) {
          val bit = java.lang.Long.remainderUnsigned(
            h._1 + i.toLong * h._2, FileStats.BloomBits).toInt
          bits(bit >>> 6) |= 1L << (bit & 63)
          i += 1
        }
      }
      FileStats.Bloom(FileStats.BloomK, bits)
    }.orNull)

  private val genStats: Gen[FileStats.Stats] = for {
    rows <- Gen.chooseNum(0L, 1000000L)
    len <- Gen.oneOf(Gen.const(-1L), Gen.chooseNum(0L, Long.MaxValue / 2))
    nCols <- Gen.chooseNum(0, 4)
    names <- Gen.listOfN(nCols, Gen.oneOf("a", "b\tc", "d\ne", "名前", "x"))
    cols <- Gen.listOfN(nCols, genColStats)
  } yield FileStats.Stats(rows, names.distinct.zip(cols).toMap, len)

  property("never prunes a file containing a satisfying decimal") =
    forAll(fileAndLits(genDecimal.map(identity[Any]))) { case (vals, lit, extra) =>
      sound(vals, lit, extra)
    }

  // NaN-safe structural equality: render is canonical (sorted columns),
  // so compare re-rendered forms — Scala's == on boxed Double(NaN) is
  // numeric (NaN != NaN) and would fail spuriously on identical stats
  private def sameStats(a: FileStats.Stats, b: FileStats.Stats): Boolean =
    FileStats.render(a) == FileStats.render(b)

  // Bloom soundness: a value actually inserted is NEVER reported absent —
  // the false-negative direction is the one that loses rows (a false
  // positive just keeps a file). Checked across the codec round trip so
  // serialization can't corrupt the bit positions.
  property("blooms never report an inserted value absent (across the codec)") =
    forAll(Gen.listOfN(40, Gen.chooseNum(Long.MinValue, Long.MaxValue)),
        Gen.chooseNum(Long.MinValue, Long.MaxValue)) { (ins, probe) =>
      val bits = new Array[Long](FileStats.BloomBits >>> 6)
      ins.foreach { v =>
        val h = FileStats.bloomHashLong(v)
        var i = 0
        while (i < FileStats.BloomK) {
          val bit = java.lang.Long.remainderUnsigned(
            h._1 + i.toLong * h._2, FileStats.BloomBits).toInt
          bits(bit >>> 6) |= 1L << (bit & 63)
          i += 1
        }
      }
      val st = FileStats.Stats(ins.length.toLong, Map("c" -> FileStats.ColStats(
        'i', 0, ins.min: java.lang.Long, ins.max: java.lang.Long,
        bloom = FileStats.Bloom(FileStats.BloomK, bits))), 1L)
      val c = FileStats.parse(FileStats.render(st)).get.cols("c")
      val inserted = Prop.all(ins.map(v =>
        Prop(!FileStats.bloomExcludes(c, EqualTo("c", v))) :| s"false negative: $v"): _*)
      // an excluded probe must genuinely be absent from the inserted set
      val probeSound = Prop(
        !FileStats.bloomExcludes(c, EqualTo("c", probe)) || !ins.contains(probe))
      inserted && probeSound
    }

  property("sidecar render/parse is the identity") =
    forAll(genStats) { st =>
      FileStats.parse(FileStats.render(st)).exists(sameStats(_, st))
    }

  // the manifest strips bloom lines BY DESIGN (they would be tens of MB
  // at thousands of files; per-file sidecars keep them) — identity holds
  // for everything else, and no bloom line may survive the render
  property("manifest render/parse is the identity modulo stripped blooms") =
    forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genStats))) { statsList =>
      val entries = statsList.zipWithIndex.map { case (st, i) =>
        s"part-$i.jsonl" -> st
      }
      val rendered = FileStats.renderManifest(
        entries.map { case (n, st) => n -> FileStats.render(st) })
      def noBlooms(st: FileStats.Stats): FileStats.Stats =
        st.copy(cols = st.cols.map { case (n, c) => n -> c.copy(bloom = null) })
      !rendered.contains("bloom\t") &&
        FileStats.parseManifest(rendered).exists { parsed =>
          parsed.keySet == entries.map(_._1).toSet &&
            entries.forall { case (n, st) => sameStats(parsed(n), noBlooms(st)) }
        }
    }
}
