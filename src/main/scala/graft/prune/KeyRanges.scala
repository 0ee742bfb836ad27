package graft.prune

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import graft.codec.KeyCodec

/** Per-dimension interval analysis of a Catalyst predicate, for region
  * pruning over key-sorted storage.
  *
  * Capability port of the reference's "critical point" partition pruning
  * (Heracles `HBaseCriticalPoint.scala` + `PartialPredicateOperations
  * .scala` in /root/reference — per key dimension, collect comparison/IN
  * literals, build qualifying ranges, intersect with region boundaries).
  * Rebuilt as abstract interpretation over an interval domain: each key
  * dimension gets a disjoint interval set; AND intersects, OR unions,
  * anything unanalyzable widens to ⊤ (sound — never prunes a region that
  * could match). Bounds are compared in the order-preserving encoded
  * byte space, so one comparator covers all ten key types.
  */
object KeyRanges {

  /** The byte order of encoded bounds. The interval-set algebra takes it
    * as a parameter so a test can count the comparisons it makes;
    * everything else uses `KeyCodec.compare`. */
  type ByteOrder = (Array[Byte], Array[Byte]) => Int

  /** Interval over encoded bytes; None = unbounded. */
  final case class Iv(lo: Option[Array[Byte]], loInc: Boolean,
      hi: Option[Array[Byte]], hiInc: Boolean) {
    def isEmpty: Boolean = isEmptyBy(KeyCodec.compare)
    private[prune] def isEmptyBy(cmp: ByteOrder): Boolean = (lo, hi) match {
      case (Some(a), Some(b)) =>
        val c = cmp(a, b)
        c > 0 || (c == 0 && !(loInc && hiInc))
      case _ => false
    }
    /** Does [min,max] (both inclusive) overlap this interval? */
    def overlaps(min: Array[Byte], max: Array[Byte]): Boolean = {
      val belowHi = hi.forall { h =>
        val c = KeyCodec.compare(min, h)
        c < 0 || (c == 0 && hiInc)
      }
      val aboveLo = lo.forall { l =>
        val c = KeyCodec.compare(max, l)
        c > 0 || (c == 0 && loInc)
      }
      belowHi && aboveLo
    }
    def intersect(o: Iv): Iv = intersectBy(o, KeyCodec.compare)
    private[prune] def intersectBy(o: Iv, cmp: ByteOrder): Iv = {
      val (nlo, nloInc) = (lo, o.lo) match {
        case (None, _) => (o.lo, o.loInc)
        case (_, None) => (lo, loInc)
        case (Some(a), Some(b)) =>
          val c = cmp(a, b)
          if (c > 0) (lo, loInc)
          else if (c < 0) (o.lo, o.loInc)
          else (lo, loInc && o.loInc)
      }
      val (nhi, nhiInc) = (hi, o.hi) match {
        case (None, _) => (o.hi, o.hiInc)
        case (_, None) => (hi, hiInc)
        case (Some(a), Some(b)) =>
          val c = cmp(a, b)
          if (c < 0) (hi, hiInc)
          else if (c > 0) (o.hi, o.hiInc)
          else (hi, hiInc && o.hiInc)
      }
      Iv(nlo, nloInc, nhi, nhiInc)
    }
  }

  val full: Iv = Iv(None, loInc = false, None, hiInc = false)

  /** Disjoint-ish interval set; ⊤ = List(full), ⊥ = Nil. Soundness only
    * requires covering, not disjointness, so union is concatenation. */
  type IvSet = List[Iv]

  /** Lower-bound order: unbounded first; equal bytes → inclusive first
    * (an inclusive bound starts earlier). */
  private def cmpLo(a: Iv, b: Iv, cmp: ByteOrder): Int = (a.lo, b.lo) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) =>
      val c = cmp(x, y)
      if (c != 0) c
      else (a.loInc, b.loInc) match {
        case (true, false) => -1
        case (false, true) => 1
        case _ => 0
      }
  }

  /** Upper-bound order: unbounded last; equal bytes → exclusive first
    * (an exclusive bound ends earlier). */
  private def cmpHi(a: Iv, b: Iv, cmp: ByteOrder): Int = (a.hi, b.hi) match {
    case (None, None) => 0
    case (None, _) => 1
    case (_, None) => -1
    case (Some(x), Some(y)) =>
      val c = cmp(x, y)
      if (c != 0) c
      else (a.hiInc, b.hiInc) match {
        case (true, false) => 1
        case (false, true) => -1
        case _ => 0
      }
  }

  /** Does interval `b` (whose lo is ≥ `a`'s lo in [[cmpLo]] order)
    * start at or before `a`'s end — i.e. do they overlap as point
    * sets? Touching at one byte point counts only if both sides
    * include it. */
  private def startsWithin(a: Iv, b: Iv, cmp: ByteOrder): Boolean =
    (b.lo, a.hi) match {
      case (None, _) | (_, None) => true
      case (Some(x), Some(y)) =>
        val c = cmp(x, y)
        c < 0 || (c == 0 && b.loInc && a.hiInc)
    }

  /** Canonical form: sorted by lower bound, pairwise disjoint, no empty
    * intervals. Exact as a point set (overlapping intervals merge into
    * their union hull), which is the semantics every consumer uses. */
  private def normalize(s: IvSet, cmp: ByteOrder): IvSet = {
    val xs = s.filterNot(_.isEmptyBy(cmp))
    if (xs.lengthCompare(1) <= 0) xs
    else {
      val sorted = xs.sortWith(cmpLo(_, _, cmp) < 0)
      val out = List.newBuilder[Iv]
      var cur = sorted.head
      sorted.tail.foreach { iv =>
        if (startsWithin(cur, iv, cmp))
          cur = if (cmpHi(cur, iv, cmp) >= 0) cur
                else Iv(cur.lo, cur.loInc, iv.hi, iv.hiInc)
        else { out += cur; cur = iv }
      }
      out += cur
      out.result()
    }
  }

  /** Pairwise intersection of two interval sets. Tiny sets take the
    * direct cross product; anything larger is normalized (sorted +
    * disjoint) and swept with two pointers in O(n log n + m log m) —
    * the cross product is O(n·m), which a runtime-filter IN-list of
    * tens of thousands of key points turns into minutes of
    * driver-side planning. */
  private[graft] def intersectSets(a: IvSet, b: IvSet,
      cmp: ByteOrder = KeyCodec.compare): IvSet =
    if (a.lengthCompare(16) <= 0 && b.lengthCompare(16) <= 0)
      (for (x <- a; y <- b) yield x.intersectBy(y, cmp))
        .filterNot(_.isEmptyBy(cmp))
    else {
      val as = normalize(a, cmp).toArray
      val bs = normalize(b, cmp).toArray
      val out = List.newBuilder[Iv]
      var i = 0
      var j = 0
      while (i < as.length && j < bs.length) {
        val c = as(i).intersectBy(bs(j), cmp)
        if (!c.isEmptyBy(cmp)) out += c
        if (cmpHi(as(i), bs(j), cmp) <= 0) i += 1 else j += 1
      }
      out.result()
    }

  /** ¬(k IN pts) as the complement interval set, built directly in
    * O(n log n): the gaps strictly between the sorted points, plus the
    * two unbounded tails. Duplicate points need no dedup — adjacent
    * equal points produce the degenerate exclusive gap (p,p), which
    * `isEmpty` filters. (Folding per-point exclusions through
    * [[intersectSets]] is quadratic in the list length — pathological
    * for large NOT-IN lists.) */
  private[graft] def complementOfPoints(pts: Seq[Array[Byte]]): IvSet = {
    val sorted = pts.sortWith(KeyCodec.compare(_, _) < 0)
    val bounds = None +: sorted.map(Some(_))
    val uppers = sorted.map(Some(_)) :+ None
    bounds.zip(uppers).map { case (lo, hi) =>
      Iv(lo, loInc = false, hi, hiInc = false)
    }.toList.filterNot(_.isEmpty)
  }

  /** dims: key column name (lowercase) → (dimension index, type). */
  def analyze(pred: Expression, dims: Map[String, (Int, DataType)])
      : Map[Int, IvSet] = pred match {
    case And(l, r) =>
      val (a, b) = (analyze(l, dims), analyze(r, dims))
      (a.keySet ++ b.keySet).map { d =>
        d -> intersectSets(a.getOrElse(d, List(full)), b.getOrElse(d, List(full)))
      }.toMap
    case Or(l, r) =>
      val (a, b) = (analyze(l, dims), analyze(r, dims))
      // only dims constrained on BOTH branches stay constrained
      (a.keySet intersect b.keySet).map { d => d -> (a(d) ++ b(d)) }.toMap
    case Not(g) => negAnalyze(g, dims)
    case e => analyzeLeaf(e, dims)
  }

  /** Sound over-approximation of ¬pred: recurse structurally (negating
    * `analyze`'s over-approximate output would be unsound); anything
    * unrecognized widens to ⊤. Keys are non-null, which resolves the
    * 3-valued cases (¬IsNull ≡ true, ¬IsNotNull ≡ false, <=> ≡ =). */
  private def negAnalyze(pred: Expression,
      dims0: Map[String, (Int, DataType)]): Map[Int, IvSet] = {
    implicit val dims: Map[String, (Int, DataType)] = dims0
    def excludePoint(d: Int, dt: DataType, v: Any): Map[Int, IvSet] =
      enc(dt, v).map(b => Map(d -> List(
        Iv(None, false, Some(b), false),
        Iv(Some(b), false, None, false)))).getOrElse(Map.empty)
    pred match {
      case Not(g) => analyze(g, dims0)
      case And(l, r) => // ¬(l∧r) = ¬l ∨ ¬r
        val (a, b) = (negAnalyze(l, dims0), negAnalyze(r, dims0))
        (a.keySet intersect b.keySet).map(d => d -> (a(d) ++ b(d))).toMap
      case Or(l, r) => // ¬(l∨r) = ¬l ∧ ¬r
        val (a, b) = (negAnalyze(l, dims0), negAnalyze(r, dims0))
        (a.keySet ++ b.keySet).map { d =>
          d -> intersectSets(a.getOrElse(d, List(full)),
            b.getOrElse(d, List(full)))
        }.toMap
      case eq @ EqualTo(_, _) => eq match {
        case KeyLit(d, dt, v, _) => excludePoint(d, dt, v)
        case _ => Map.empty
      }
      case ens @ EqualNullSafe(_, _) => ens match {
        case KeyLit(d, dt, v, _) => excludePoint(d, dt, v)
        case _ => Map.empty // ¬(k <=> NULL) ≡ k IS NOT NULL ≡ true
      }
      // operator-level negation; analyzeLeaf handles either orientation
      case GreaterThan(l, r) => analyzeLeaf(LessThanOrEqual(l, r), dims0)
      case GreaterThanOrEqual(l, r) => analyzeLeaf(LessThan(l, r), dims0)
      case LessThan(l, r) => analyzeLeaf(GreaterThanOrEqual(l, r), dims0)
      case LessThanOrEqual(l, r) => analyzeLeaf(GreaterThan(l, r), dims0)
      case In(KeyAttr(a), list) if list.forall {
            case FoldableLit(_) => true; case _ => false } =>
        // complement built directly (gaps between sorted points) —
        // folding per-point exclusions is quadratic in the list size;
        // unencodable values are skipped (excluding fewer points is
        // sound)
        dims0.get(a.name.toLowerCase).map { case (d, dt) =>
          val pts = list.collect { case FoldableLit(v) => v }
            .flatMap(v => enc(dt, v))
          Map(d -> complementOfPoints(pts))
        }.getOrElse(Map.empty)
      case IsNull(a: Attribute) if dims0.contains(a.name.toLowerCase) =>
        Map.empty // keys non-null → ¬IsNull always true
      case IsNotNull(a: Attribute) if dims0.contains(a.name.toLowerCase) =>
        Map(dims0(a.name.toLowerCase)._1 -> Nil) // provably false
      case StartsWith(KeyAttr(a), FoldableLit(p)) =>
        dims0.get(a.name.toLowerCase).collect { case (d, StringType) =>
          val lo = p.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Map(d -> (Iv(None, false, Some(lo), false) ::
            Option(KeyCodec.successor(lo))
              .map(h => Iv(Some(h), true, None, false)).toList))
        }.getOrElse(Map.empty)
      case _ => Map.empty
    }
  }

  /** Convert a literal (in its own Catalyst type) to the key column's
    * native type, exactly; None if lossy or incompatible (→ no pruning,
    * sound). Handles the implicit numeric widening Catalyst applies to
    * mixed-type comparisons. */
  private def convert(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (LongType | TimestampType, x: Long) => Some(x)
    case (LongType | TimestampType, x: Int) => Some(x.toLong)
    case (LongType | TimestampType, x: Short) => Some(x.toLong)
    case (LongType | TimestampType, x: Byte) => Some(x.toLong)
    case (IntegerType | DateType, x: Int) => Some(x)
    case (IntegerType | DateType, x: Long) if x.isValidInt => Some(x.toInt)
    case (IntegerType | DateType, x: Short) => Some(x.toInt)
    case (IntegerType | DateType, x: Byte) => Some(x.toInt)
    case (ShortType, x: Short) => Some(x)
    case (ShortType, x: Int) if x >= Short.MinValue && x <= Short.MaxValue =>
      Some(x.toShort)
    case (ByteType, x: Byte) => Some(x)
    case (DoubleType, x: Double) => Some(x)
    case (DoubleType, x: Float) => Some(x.toDouble)
    case (DoubleType, x: Int) => Some(x.toDouble)
    case (DoubleType, x: Long) => Some(x.toDouble)
    case (DoubleType, x: java.math.BigDecimal) => Some(x.doubleValue)
    case (DoubleType, x: org.apache.spark.sql.types.Decimal) =>
      Some(x.toDouble)
    case (FloatType, x: Float) => Some(x)
    case (FloatType, x: Double) => Some(x.toFloat)
    case (FloatType, x: Int) => Some(x.toFloat)
    case (StringType, x) => Some(x.toString)
    case (BooleanType, x: Boolean) => Some(x)
    case _ => None
  }

  private def enc(dt: DataType, v: Any): Option[Array[Byte]] =
    convert(dt, v).flatMap(cv =>
      try Some(KeyCodec.encode(dt, cv)) catch { case _: Exception => None })

  /** Attribute possibly wrapped in a widening Cast (Catalyst inserts
    * these for mixed-type comparisons). */
  private object KeyAttr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Cast(a: Attribute, _, _, _) => Some(a)
      case _ => None
    }
  }

  /** Any foldable (constant) expression, evaluated — covers plain
    * literals and the analyzer's Cast(Literal) wrappers. */
  private object FoldableLit {
    def unapply(e: Expression): Option[Any] = e match {
      case _: Attribute => None
      case _ if e.foldable =>
        try Option(e.eval(null)) catch { case _: Exception => None }
      case _ => None
    }
  }

  private object KeyLit {
    /** Matches cmp(attr, constant) in either orientation for a key dim;
      * yields (dim, type, constant value, flipped). */
    def unapply(e: Expression)(implicit dims: Map[String, (Int, DataType)])
        : Option[(Int, DataType, Any, Boolean)] = e match {
      case BinaryComparison(KeyAttr(a), FoldableLit(v)) =>
        dims.get(a.name.toLowerCase).map { case (d, dt) => (d, dt, v, false) }
      case BinaryComparison(FoldableLit(v), KeyAttr(a)) =>
        dims.get(a.name.toLowerCase).map { case (d, dt) => (d, dt, v, true) }
      case _ => None
    }
  }

  private def analyzeLeaf(e: Expression,
      dims0: Map[String, (Int, DataType)]): Map[Int, IvSet] = {
    implicit val dims: Map[String, (Int, DataType)] = dims0
    e match {
      case eq @ EqualTo(_, _) => eq match {
        case KeyLit(d, dt, v, _) =>
          enc(dt, v).map(b =>
            Map(d -> List(Iv(Some(b), true, Some(b), true)))).getOrElse(Map.empty)
        case _ => Map.empty
      }
      case gt @ GreaterThan(_, _) => gt match {
        case KeyLit(d, dt, v, flipped) => enc(dt, v).map { b =>
          val iv = if (!flipped) Iv(Some(b), false, None, false)
                   else Iv(None, false, Some(b), false)
          Map(d -> List(iv))
        }.getOrElse(Map.empty)
        case _ => Map.empty
      }
      case ge @ GreaterThanOrEqual(_, _) => ge match {
        case KeyLit(d, dt, v, flipped) => enc(dt, v).map { b =>
          val iv = if (!flipped) Iv(Some(b), true, None, false)
                   else Iv(None, false, Some(b), true)
          Map(d -> List(iv))
        }.getOrElse(Map.empty)
        case _ => Map.empty
      }
      case lt @ LessThan(_, _) => lt match {
        case KeyLit(d, dt, v, flipped) => enc(dt, v).map { b =>
          val iv = if (!flipped) Iv(None, false, Some(b), false)
                   else Iv(Some(b), false, None, false)
          Map(d -> List(iv))
        }.getOrElse(Map.empty)
        case _ => Map.empty
      }
      case le @ LessThanOrEqual(_, _) => le match {
        case KeyLit(d, dt, v, flipped) => enc(dt, v).map { b =>
          val iv = if (!flipped) Iv(None, false, Some(b), true)
                   else Iv(Some(b), true, None, false)
          Map(d -> List(iv))
        }.getOrElse(Map.empty)
        case _ => Map.empty
      }
      case In(KeyAttr(a), list) if list.forall {
            case FoldableLit(_) => true; case _ => false } =>
        dims0.get(a.name.toLowerCase).map { case (d, dt) =>
          val ivs = list.flatMap { case FoldableLit(v) =>
            enc(dt, v).map(b => Iv(Some(b), true, Some(b), true))
          case _ => None }.toList
          if (ivs.length == list.length) Map(d -> ivs) else Map.empty[Int, IvSet]
        }.getOrElse(Map.empty)
      case InSet(KeyAttr(a), vs) if !vs.contains(null) =>
        dims0.get(a.name.toLowerCase).map { case (d, dt) =>
          val ivs = vs.toList.flatMap(v =>
            enc(dt, v).map(b => Iv(Some(b), true, Some(b), true)))
          if (ivs.length == vs.size) Map(d -> ivs) else Map.empty[Int, IvSet]
        }.getOrElse(Map.empty)
      // key columns are declared non-null → IS NULL proves empty
      case IsNull(a: Attribute) if dims0.contains(a.name.toLowerCase) =>
        Map(dims0(a.name.toLowerCase)._1 -> Nil)
      // keys non-null → <=> v ≡ = v; <=> NULL is provably false
      case EqualNullSafe(KeyAttr(a), Literal(null, _)) =>
        dims0.get(a.name.toLowerCase)
          .map { case (d, _) => Map(d -> (Nil: IvSet)) }.getOrElse(Map.empty)
      case EqualNullSafe(Literal(null, _), KeyAttr(a)) =>
        dims0.get(a.name.toLowerCase)
          .map { case (d, _) => Map(d -> (Nil: IvSet)) }.getOrElse(Map.empty)
      case ens @ EqualNullSafe(_, _) => ens match {
        case KeyLit(d, dt, v, _) =>
          enc(dt, v).map(b =>
            Map(d -> List(Iv(Some(b), true, Some(b), true))))
            .getOrElse(Map.empty)
        case _ => Map.empty
      }
      // LIKE 'p%' on a string key → [utf8(p), successor(utf8(p)))
      case StartsWith(KeyAttr(a), FoldableLit(p)) =>
        dims0.get(a.name.toLowerCase).collect { case (d, StringType) =>
          val lo = p.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Map(d -> List(Iv(Some(lo), true,
            Option(KeyCodec.successor(lo)), false)))
        }.getOrElse(Map.empty)
      case _ => Map.empty // unanalyzable → no constraint (sound)
    }
  }

  /** Prune: keep file iff every constrained dim's [min,max] overlaps
    * some interval (an empty set for any dim proves the file empty). */
  def survives(constraints: Map[Int, IvSet],
      mins: Seq[Array[Byte]], maxs: Seq[Array[Byte]]): Boolean =
    constraints.forall { case (d, ivs) =>
      d >= mins.length || ivs.exists(_.overlaps(mins(d), maxs(d)))
    }
}
