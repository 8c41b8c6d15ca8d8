package graft.lake

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import SnapshotTable.Entry

/** Manifest-stats file skipping (the Delta/Iceberg data-skipping half
  * of pruning): an analyzed predicate compiles once into a
  * conservative per-file test over an entry's stats — numeric and
  * string bounds, null counts and blooms.
  *
  * The boolean structure is honored recursively: `And` needs both
  * branches matchable, `Or` either, so `k = 5 OR k = 900` prunes to
  * the union of each point's files and `k = 5 OR v IS NULL` combines
  * bounds with null counts. Every other node is a leaf, normalized
  * once ([[normalize]]) into (column, comparison, literal values) and
  * checked against each stat family. A leaf the normalizer does not
  * understand compiles to constant-true, and a file without a stat on
  * a column keeps that family silent: skipping only ever prunes. */
private[lake] object FileSkipping {

  /** A leaf's comparison, literal on the right. `Eq` over several
    * literals is IN (some literal must match). */
  private[lake] sealed trait Op
  private[lake] case object Eq extends Op
  private[lake] case object Lt extends Op
  private[lake] case object Le extends Op
  private[lake] case object Gt extends Op
  private[lake] case object Ge extends Op
  private[lake] case object NeedsNull extends Op
  private[lake] case object NeedsValue extends Op

  /** One normalized leaf: `attr` is the column whose stats it reads,
    * `dt` the type the comparison runs in (`attr`'s own, or the target
    * of a widening cast on it) and `lits` the non-NULL literal values
    * in Catalyst's internal form. A comparison with no non-NULL
    * literal (`k = NULL`, `k IN (NULL)`) is never TRUE. */
  private[lake] case class Leaf(attr: AttributeReference, dt: DataType, op: Op,
      lits: Seq[Any])

  /** Compile `cond` into a per-entry "may hold a matching row" test.
    * `phys` maps a logical column to its physical stat key. */
  def compile(cond: Expression, phys: String => String): Entry => Boolean =
    cond match {
      case And(l, r) =>
        val (a, b) = (compile(l, phys), compile(r, phys))
        e => a(e) && b(e)
      case Or(l, r) =>
        val (a, b) = (compile(l, phys), compile(r, phys))
        e => a(e) || b(e)
      case leaf =>
        val tests = normalize(leaf).map(test(_, phys))
        e => tests.forall(_(e))
    }

  /** The necessary conditions a leaf implies, all of which must hold
    * for it to be TRUE; empty when the leaf is not understood. A
    * comparison of a column with anything but a literal still needs a
    * non-NULL column value. */
  private[lake] def normalize(leaf: Expression): Seq[Leaf] = leaf match {
    case IsNull(Col(a, dt))                => Seq(Leaf(a, dt, NeedsNull, Nil))
    case IsNotNull(Col(a, dt))             => Seq(Leaf(a, dt, NeedsValue, Nil))
    case Not(IsNull(Col(a, dt)))           => Seq(Leaf(a, dt, NeedsValue, Nil))
    case Not(IsNotNull(Col(a, dt)))        => Seq(Leaf(a, dt, NeedsNull, Nil))
    case EqualNullSafe(Col(a, dt), Lit(v)) => Seq(nullSafe(a, dt, v))
    case EqualNullSafe(Lit(v), Col(a, dt)) => Seq(nullSafe(a, dt, v))
    case In(Col(a, dt), vs) if vs.forall(Lit.unapply(_).isDefined) =>
      Seq(Leaf(a, dt, Eq, vs.flatMap(Lit.unapply).filter(_ != null)))
    case In(Col(a, dt), _)     => Seq(Leaf(a, dt, NeedsValue, Nil))
    case InSet(Col(a, dt), vs) => Seq(Leaf(a, dt, Eq, vs.toSeq.filter(_ != null)))
    case Cmp(op, Col(a, dt), Lit(v)) => Seq(Leaf(a, dt, op, Seq(v).filter(_ != null)))
    case Cmp(op, Lit(v), Col(a, dt)) => Seq(Leaf(a, dt, flip(op), Seq(v).filter(_ != null)))
    case Cmp(_, l, r) => Seq(l, r).collect { case Col(a, dt) => Leaf(a, dt, NeedsValue, Nil) }
    case _ => Nil
  }

  private def nullSafe(a: AttributeReference, dt: DataType, v: Any): Leaf =
    if (v == null) Leaf(a, dt, NeedsNull, Nil) else Leaf(a, dt, Eq, Seq(v))

  private def flip(op: Op): Op = op match {
    case Lt => Gt
    case Le => Ge
    case Gt => Lt
    case Ge => Le
    case other => other
  }

  /** The NULL-rejecting binary comparisons (`<=>` is matched apart). */
  private object Cmp {
    def unapply(e: Expression): Option[(Op, Expression, Expression)] = e match {
      case EqualTo(l, r)            => Some((Eq, l, r))
      case LessThan(l, r)           => Some((Lt, l, r))
      case LessThanOrEqual(l, r)    => Some((Le, l, r))
      case GreaterThan(l, r)        => Some((Gt, l, r))
      case GreaterThanOrEqual(l, r) => Some((Ge, l, r))
      case _ => None
    }
  }

  /** The one attribute rule: a bare column, or a column under a
    * widening numeric cast (`Cast.canUpCast`) — the casts type
    * coercion inserts (an int column against a double literal). They
    * keep order and NULLs, so the literal's bound transfers to the
    * base column's stats. A narrowing cast (`CAST(v AS INT) = 5` holds
    * for v = 5.7) and any non-numeric cast keep the leaf unknown.
    * Long to float is left out: it rounds to float where the file's
    * long bounds were rounded to double, and the two can disagree. */
  private object Col {
    def unapply(e: Expression): Option[(AttributeReference, DataType)] = e match {
      case a: AttributeReference => Some((a, a.dataType))
      case Cast(a: AttributeReference, to, _, _)
          if a.dataType.isInstanceOf[NumericType] && to.isInstanceOf[NumericType] &&
            Cast.canUpCast(a.dataType, to) && !(a.dataType == LongType && to == FloatType) =>
        Some((a, to))
      case _ => None
    }
  }

  /** The one literal rule: any foldable expression, evaluated — the
    * analyzed plan carries literals under coercion casts (`v <=> NULL`
    * is `v <=> CAST(NULL AS ...)`). Yields the internal value, which
    * may be null. */
  private object Lit {
    def unapply(e: Expression): Option[Any] = e match {
      case l: Literal => Some(l.value)
      case c if c.foldable => scala.util.Try(c.eval()).toOption
      case _ => None
    }
  }

  private def test(leaf: Leaf, phys: String => String): Entry => Boolean = {
    val p = phys(leaf.attr.name)
    leaf.op match {
      case NeedsNull  => e => nullCount(e, p).forall(_ > 0)
      case NeedsValue => e => !allNull(e, p)
      case op =>
        // a cast to FLOAT rounds the column's values, so the file's
        // bounds compare as the float values the cast makes of them
        val image: Double => Double =
          if (leaf.dt == FloatType) _.toFloat.toDouble else identity
        // a long column compared in DECIMAL: its bounds past 2^53
        // rounded, so a value strictly beyond an exact literal
        // (2^60 + 1 > 2^60) can have a bound equal to it
        val cmp = (leaf.dt, op) match {
          case (_: DecimalType, Gt) => Ge
          case (_: DecimalType, Lt) => Le
          case _ => op
        }
        val probes = leaf.lits.map(v => (numeric(v),
          v match {
            case s: UTF8String if leaf.attr.dataType == StringType => Some(s.toString)
            case _ => None
          },
          if (op == Eq) bloomHash(leaf.attr.dataType, v) else None))
        // a comparison is never TRUE on NULL, so the file needs a
        // non-NULL value, and some literal must fit every family
        e => !allNull(e, p) && {
          val nb = numBound(e, p).map { case (mn, mx) => (image(mn), image(mx)) }
          val sb = strBound(e, p)
          lazy val bf = e.blooms.find(_._1 == p).map(b => SnapshotTable.decodeBloom(b._2))
          probes.exists { case (num, str, hash) =>
            num.forall { case (lo, hi) =>
              nb.forall { case (mn, mx) => overlaps(cmp, mn, mx, lo, hi)(SqlDoubleOrder) }
            } &&
            str.forall(s => sb.forall { case (mn, mx) => overlaps(op, mn, mx, s, s)(Utf8Order) }) &&
            hash.forall(h => bf.forall(_.mightContainLong(h)))
          }
        }
    }
  }

  /** Can some value in [mn, mx] satisfy `op` against a literal known
    * to lie in [lo, hi] (a point, or the one-ulp envelope of an
    * inexact Double)? */
  private def overlaps[T](op: Op, mn: T, mx: T, lo: T, hi: T)(
      implicit o: Ordering[T]): Boolean = op match {
    case Eq => o.gteq(mx, lo) && o.lteq(mn, hi)
    case Gt => o.gt(mx, lo)
    case Ge => o.gteq(mx, lo)
    case Lt => o.lt(mn, hi)
    case Le => o.lteq(mn, hi)
    case _  => true
  }

  /** Spark's double order: -0.0 equals 0.0 and NaN sorts above +Inf,
    * so `v < NaN` holds for every non-NaN v and `v = NaN` for none. */
  private val SqlDoubleOrder: Ordering[Double] = Ordering.comparatorToOrdering(
    (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y))

  private val Utf8Order: Ordering[String] = Ordering.comparatorToOrdering(
    (a: String, b: String) => SnapshotTable.utf8Cmp(a, b))

  /** A literal value as the Double interval the numeric bounds compare
    * against: exact values are a point; wide longs and inexact
    * decimals widen by one ulp each way, since their conversion (and
    * the footer bounds') rounded. None for a non-numeric value. */
  private[lake] def numeric(v: Any): Option[(Double, Double)] = (v match {
    case b: Byte   => Some((b.toDouble, true))
    case s: Short  => Some((s.toDouble, true))
    case i: Int    => Some((i.toDouble, true))
    case j: Long   => Some((j.toDouble, math.abs(j) <= (1L << 52)))
    case f: Float  => Some((f.toDouble, true))
    case d: Double => Some((d, true))
    case d: Decimal =>
      val x = d.toDouble
      Some((x, new java.math.BigDecimal(x).compareTo(d.toJavaBigDecimal) == 0))
    case _ => None
  }).map {
    case (d, true)  => (d, d)
    case (d, false) => (Math.nextDown(d), Math.nextUp(d))
  }

  /** Probe-side bloom item of a literal, the item the writer hashed
    * for the same value ([[WriterBlooms.item]]); None when the value is
    * not in the column's bloom domain. */
  private def bloomHash(t: DataType, v: Any): Option[Long] = (t, v) match {
    case (StringType, s: UTF8String) => Some(WriterBlooms.item(s))
    case (ByteType | ShortType | IntegerType | LongType,
        n @ (_: Byte | _: Short | _: Int | _: Long)) =>
      Some(WriterBlooms.item(n.asInstanceOf[Number].longValue))
    case _ => None
  }

  // ---- the stat accessors: one usable-bound rule for every reader ----

  /** A file's numeric bound on physical column `p`. NaN bounds (a
    * double file holding NaN can record them) compare false to
    * everything and read as absent. */
  def numBound(e: Entry, p: String): Option[(Double, Double)] =
    e.stats.find(_._1 == p).collect {
      case (_, mn, mx) if !mn.isNaN && !mx.isNaN => (mn, mx)
    }

  /** A file's string bound on `p`, in unsigned UTF-8 byte order. */
  def strBound(e: Entry, p: String): Option[(String, String)] =
    e.sstats.find(_._1 == p).map(s => (s._2, s._3))

  private def nullCount(e: Entry, p: String): Option[Long] =
    e.nulls.find(_._1 == p).map(_._2)

  /** Is `p` NULL in every row of the file? Unknowable without a footer
    * row count. Deletion vectors only shrink the live rows, so "no
    * NULL" and "only NULLs" stay true of them. */
  def allNull(e: Entry, p: String): Boolean =
    e.rows >= 0 && nullCount(e, p).exists(_ >= e.rows)
}
