package graft.lake

import org.apache.spark.sql.types._

import SnapshotTable.{Entry, decodeBloom, utf8Cmp}
import WriterBlooms.{eligible => bloomEligible}

/** The skip compiler as it stood before [[FileSkipping]]: one
  * compiler over four per-family extractors, each with its own
  * conjunct splitter, attribute matcher and literal folder. Kept
  * verbatim as the reference [[FileSkippingSpec]] compares the one
  * normalizer against — every file this compiler soundly skips, the
  * new one must skip too. */
object LegacySkipCompiler {

  /** Compile a predicate into a conservative per-file matchability
    * test over the manifest's stats triple. The boolean structure is
    * honored recursively: `And` requires both branches matchable,
    * `Or` either branch — so `k = 5 OR k = 900` prunes to the union
    * of each point's candidate files, and a cross-family
    * `k = 5 OR v IS NULL` combines bounds with null counts. Each
    * LEAF compiles once through the four extractors
    * ([[skipIntervals]], [[skipStringBounds]], [[skipNullPredicates]],
    * [[skipPointHashes]]) and evaluates per entry; a leaf none of
    * them understands compiles to constant-true, so skipping can
    * only ever be conservative. `phys` bridges renamed columns to
    * the physical stat keys. */
  private[lake] def compileSkipPredicate(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      phys: String => String,
      useBlooms: Boolean): Entry => Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, Or}
    cond match {
      case And(l, r) =>
        val a = compileSkipPredicate(l, phys, useBlooms)
        val b = compileSkipPredicate(r, phys, useBlooms)
        e => a(e) && b(e)
      case Or(l, r) =>
        val a = compileSkipPredicate(l, phys, useBlooms)
        val b = compileSkipPredicate(r, phys, useBlooms)
        e => a(e) || b(e)
      case leaf =>
        val intervals = skipIntervals(leaf)
        val sbounds = skipStringBounds(leaf)
        val nullReqs = skipNullPredicates(leaf)
        val pointKeys = if (useBlooms) skipPointHashes(leaf) else Nil
        if (intervals.isEmpty && sbounds.isEmpty && nullReqs.isEmpty &&
            pointKeys.isEmpty) _ => true
        else e =>
          // stat families are keyed by PHYSICAL (on-disk) names
          pointKeys.forall { case (c, hs) =>
            e.blooms.find(_._1 == phys(c)) match {
              case Some((_, payload)) =>
                val bf = decodeBloom(payload)
                hs.exists(bf.mightContainLong)
              case None => true
            }
          } &&
          nullReqs.forall { case (c, needsNull) =>
            e.nulls.find(_._1 == phys(c)) match {
              // needsNull: the file must HOLD a null; else it must
              // hold a non-null (count < footer rows — unknowable
              // when the row count is unrecorded, so those stay
              // readable). DV-safe both ways: deleted rows only ever
              // SHRINK the live set, and "no null present" / "no
              // non-null present" remain true of any subset.
              case Some((_, n)) =>
                if (needsNull) n > 0 else e.rows < 0 || n < e.rows
              case None => true
            }
          } &&
          intervals.forall { case (c, lo, hi) =>
            e.stats.find(_._1 == phys(c)) match {
              // NaN-poisoned footer stats (a double/float file
              // containing NaN can record NaN min/max) compare false
              // to everything, which would silently SKIP a file that
              // holds matching real rows — treat NaN stats as absent.
              case Some((_, mn, mx)) if !mn.isNaN && !mx.isNaN =>
                mx >= lo && mn <= hi
              case _ => true
            }
          } &&
          sbounds.forall { case (c, lo, hi) =>
            e.sstats.find(_._1 == phys(c)) match {
              case Some((_, mn, mx)) =>
                lo.forall(l => utf8Cmp(mx, l) >= 0) &&
                  hi.forall(h => utf8Cmp(mn, h) <= 0)
              case None => true
            }
          }
    }
  }

  /** Conservative per-column numeric intervals implied by a predicate,
    * for manifest-stats file skipping. Only top-level conjuncts of
    * simple shape (attr ⟨cmp⟩ literal, attr IN (literals…)) contribute;
    * anything else — casts, functions, non-numeric literals —
    * contributes nothing, so skipping can only ever be conservative
    * (a file is dropped only when NO row in it can satisfy the
    * conjunct); OR structure is handled above this extractor by
    * [[compileSkipPredicate]]. Wide-integer literals are widened by
    * one ulp after the Double conversion so the same rounding the
    * footer stats went through can never skip a boundary file. */
  private[lake] def skipIntervals(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.NumericType
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    // the attribute side may carry a WIDENING numeric cast inserted by
    // type coercion (int column vs double literal). Only guaranteed
    // lossless widenings (Cast.canUpCast) are order-preserving AND
    // invertible, so only those let the literal's interval transfer to
    // the base column's stats. A narrowing/truncating cast — e.g.
    // CAST(doubleCol AS INT) = 5, satisfied by 5.7 — would let a file
    // holding only (5.2, 5.9) be skipped; such casts contribute no
    // interval and the file stays readable (skipping may only prune).
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, dt, _, _)
          if a.dataType.isInstanceOf[NumericType] &&
            dt.isInstanceOf[NumericType] && Cast.canUpCast(a.dataType, dt) =>
        Some(a.name)
      case _ => None
    }
    // exact-in-Double values pass through; wide integers/decimals get
    // the one-ulp widening (their footer stats took the same lossy
    // Double path)
    def numLo(l: Literal): Option[Double] = num(l).map {
      case (d, true)  => d
      case (d, false) => Math.nextDown(d)
    }
    def numHi(l: Literal): Option[Double] = num(l).map {
      case (d, true)  => d
      case (d, false) => Math.nextUp(d)
    }
    def num(l: Literal): Option[(Double, Boolean)] = l.value match {
      case null => None
      case b: Byte   => Some((b.toDouble, true))
      case s: Short  => Some((s.toDouble, true))
      case i: Int    => Some((i.toDouble, true))
      case j: Long   => Some((j.toDouble, math.abs(j) <= (1L << 52)))
      case f: Float  => Some((f.toDouble, true))
      case d: Double => Some((d, true))
      case d: org.apache.spark.sql.types.Decimal =>
        val v = d.toDouble
        Some((v, java.math.BigDecimal.valueOf(v).compareTo(d.toJavaBigDecimal) == 0))
      case _ => None
    }
    // the value side of a SQL comparison is often not a bare Literal —
    // a DECIMAL literal under a coercion Cast is typical — so accept
    // any foldable expression and evaluate it to a constant
    object Lit {
      def unapply(e: Expression): Option[Literal] = e match {
        case l: Literal => Some(l)
        case c if c.foldable =>
          scala.util.Try(Literal.create(c.eval(), c.dataType)).toOption
        case _ => None
      }
    }
    val inf = Double.PositiveInfinity
    val raw: Seq[(String, Double, Double)] = conjuncts(cond).flatMap {
      case EqualTo(a, Lit(l)) if attrOf(a).isDefined =>
        attrOf(a).flatMap(n => for (lo <- numLo(l); hi <- numHi(l)) yield (n, lo, hi))
      case EqualTo(Lit(l), a) =>
        attrOf(a).flatMap(n => for (lo <- numLo(l); hi <- numHi(l)) yield (n, lo, hi))
      case GreaterThan(a, Lit(l)) if attrOf(a).isDefined =>
        attrOf(a).flatMap(n => numLo(l).map(v => (n, v, inf)))
      case GreaterThanOrEqual(a, Lit(l)) if attrOf(a).isDefined =>
        attrOf(a).flatMap(n => numLo(l).map(v => (n, v, inf)))
      case LessThan(a, Lit(l)) if attrOf(a).isDefined =>
        attrOf(a).flatMap(n => numHi(l).map(v => (n, -inf, v)))
      case LessThanOrEqual(a, Lit(l)) if attrOf(a).isDefined =>
        attrOf(a).flatMap(n => numHi(l).map(v => (n, -inf, v)))
      // literal-on-the-left comparisons flip the direction
      case GreaterThan(Lit(l), a) =>
        attrOf(a).flatMap(n => numHi(l).map(v => (n, -inf, v)))
      case GreaterThanOrEqual(Lit(l), a) =>
        attrOf(a).flatMap(n => numHi(l).map(v => (n, -inf, v)))
      case LessThan(Lit(l), a) =>
        attrOf(a).flatMap(n => numLo(l).map(v => (n, v, inf)))
      case LessThanOrEqual(Lit(l), a) =>
        attrOf(a).flatMap(n => numLo(l).map(v => (n, v, inf)))
      case In(a, vs) if vs.nonEmpty =>
        attrOf(a).flatMap { n =>
          val lits = vs.flatMap(Lit.unapply)
          val los = lits.flatMap(numLo)
          val his = lits.flatMap(numHi)
          if (los.size == vs.size && his.size == vs.size)
            Some((n, los.min, his.max))
          else None
        }
      case _ => None
    }
    // several conjuncts on one column intersect
    raw.groupBy(_._1).map { case (c, xs) =>
      (c, xs.map(_._2).max, xs.map(_._3).min)
    }.toSeq
  }

  /** Conservative per-column STRING bounds implied by a predicate's
    * top-level conjuncts — the string half of manifest-stats file
    * skipping ([[skipIntervals]] covers numerics). Only bare
    * StringType attributes compared/IN'd against foldable string
    * literals contribute (a cast changes the comparison space and
    * contributes nothing); bounds are inclusive even for strict
    * comparisons (slightly less pruning, never wrong) and compare
    * under unsigned UTF-8 byte order ([[utf8Cmp]]), the ordering both
    * parquet BINARY footer stats and Spark string comparisons use.
    * Each element is (column, lower, upper) with None = unbounded;
    * conjuncts on one column apply independently (forall =
    * intersection). */
  private[lake] def skipStringBounds(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Option[String], Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference if a.dataType == StringType => Some(a.name)
      case _ => None
    }
    object SLit {
      def unapply(e: Expression): Option[String] = e match {
        case c if c.foldable && c.dataType == StringType =>
          scala.util.Try(Option(c.eval()).map(_.toString)).toOption.flatten
        case _ => None
      }
    }
    conjuncts(cond).flatMap {
      case EqualTo(a, SLit(v)) if attr(a).isDefined =>
        attr(a).map(n => (n, Some(v), Some(v)))
      case EqualTo(SLit(v), a) if attr(a).isDefined =>
        attr(a).map(n => (n, Some(v), Some(v)))
      case GreaterThan(a, SLit(v)) if attr(a).isDefined =>
        attr(a).map(n => (n, Some(v), None))
      case GreaterThanOrEqual(a, SLit(v)) if attr(a).isDefined =>
        attr(a).map(n => (n, Some(v), None))
      case LessThan(a, SLit(v)) if attr(a).isDefined =>
        attr(a).map(n => (n, None, Some(v)))
      case LessThanOrEqual(a, SLit(v)) if attr(a).isDefined =>
        attr(a).map(n => (n, None, Some(v)))
      // literal-on-the-left comparisons flip the direction
      case GreaterThan(SLit(v), a) if attr(a).isDefined =>
        attr(a).map(n => (n, None, Some(v)))
      case GreaterThanOrEqual(SLit(v), a) if attr(a).isDefined =>
        attr(a).map(n => (n, None, Some(v)))
      case LessThan(SLit(v), a) if attr(a).isDefined =>
        attr(a).map(n => (n, Some(v), None))
      case LessThanOrEqual(SLit(v), a) if attr(a).isDefined =>
        attr(a).map(n => (n, Some(v), None))
      case In(a, ls) if attr(a).isDefined && ls.nonEmpty =>
        val vs = ls.map(SLit.unapply)
        if (vs.exists(_.isEmpty)) None
        else {
          val sorted = vs.flatten.sortWith(utf8Cmp(_, _) < 0)
          attr(a).map(n => (n, Some(sorted.head), Some(sorted.last)))
        }
      case _ => None
    }
  }

  /** Per-column nullability REQUIREMENTS implied by a predicate's
    * top-level conjuncts, for null-count file skipping. Each element
    * is (column, needsNull): `true` — the conjunct is satisfiable
    * only by a NULL in the column (`IS NULL`, `<=> NULL`), so a file
    * whose recorded null count is 0 is skipped; `false` — only by a
    * NON-null (`IS NOT NULL`, and every comparison / IN conjunct,
    * since SQL comparisons never evaluate TRUE on NULL input), so an
    * all-null file (count = footer rows) is skipped. This is the
    * case bounds can't serve: an all-null chunk records NO min/max,
    * so interval skipping keeps the file. Only BARE attributes
    * contribute — a cast or function can manufacture or absorb
    * nulls (`try_cast`, `coalesce`) and contributes nothing; files
    * without a recorded count stay readable either way. */
  private[lake] def skipNullPredicates(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // both sides of a comparison must be non-NULL for it to be TRUE
    // — `a < b` needs a non-null in a AND in b
    def cmpSides(l: Expression, r: Expression): Seq[(String, Boolean)] =
      (attr(l).toSeq ++ attr(r).toSeq).map(_ -> false)
    // `<=> NULL` in the ANALYZED (unoptimized) plan carries the NULL
    // under a coercion Cast — fold it, like the other skippers do
    object FoldLit {
      def unapply(e: Expression): Option[Literal] = e match {
        case l: Literal => Some(l)
        case c if c.foldable =>
          scala.util.Try(Literal.create(c.eval(), c.dataType)).toOption
        case _ => None
      }
    }
    conjuncts(cond).flatMap {
      case IsNull(a)          => attr(a).map(_ -> true)
      case IsNotNull(a)       => attr(a).map(_ -> false)
      case Not(IsNull(a))     => attr(a).map(_ -> false)
      case Not(IsNotNull(a))  => attr(a).map(_ -> true)
      case EqualNullSafe(a, FoldLit(l)) if attr(a).isDefined =>
        attr(a).map(_ -> (l.value == null))
      case EqualNullSafe(FoldLit(l), a) if attr(a).isDefined =>
        attr(a).map(_ -> (l.value == null))
      case EqualTo(l, r)            => cmpSides(l, r)
      case GreaterThan(l, r)        => cmpSides(l, r)
      case GreaterThanOrEqual(l, r) => cmpSides(l, r)
      case LessThan(l, r)           => cmpSides(l, r)
      case LessThanOrEqual(l, r)    => cmpSides(l, r)
      // IN is TRUE only when the attribute equals SOME branch — a
      // NULL attribute yields NULL/UNKNOWN, never TRUE
      case In(a, _)      => attr(a).map(_ -> false).toSeq
      case InSet(a, _)   => attr(a).map(_ -> false).toSeq
      case _ => Nil
    }.distinct
  }

  /** Probe-side hash of a key value, matching the build side's
    * `xxhash64(col)` / `xxhash64(cast(col as long))` exactly
    * (XXH64, seed 42). None = unprobeable value (never prune). */
  private def bloomProbeHash(v: Any): Option[Long] = v match {
    case s: String => Some(org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L))
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Some(org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, 42L))
    case l: Long  => Some(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(l, 42L))
    case i: Int   => Some(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 42L))
    case s: Short => Some(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(s.toLong, 42L))
    case b: Byte  => Some(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(b.toLong, 42L))
    case _ => None
  }

  /** Per-conjunct point-lookup hash sets implied by a predicate, for
    * bloom file skipping: `attr = literal` and `attr IN (literals…)`
    * over bare string/integral attributes (plus lossless integral
    * upcasts — the build side hashed `cast(col as long)`, so the
    * upcast literal probes the same domain). Each element is
    * (column, candidate hashes): a file survives a conjunct iff SOME
    * candidate might be contained; conjuncts apply independently
    * (intersection). Anything else contributes nothing — skipping
    * stays strictly conservative. */
  private[lake] def skipPointHashes(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Seq[Long])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def attrOf(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if bloomEligible(a.dataType) => Some(a)
      case Cast(a: AttributeReference, dt, _, _)
          if a.dataType != StringType && bloomEligible(a.dataType) &&
            bloomEligible(dt) && dt != StringType &&
            Cast.canUpCast(a.dataType, dt) => Some(a)
      case _ => None
    }
    def hashLit(a: AttributeReference, l: Literal): Option[Long] =
      (a.dataType, l.value) match {
        case (_, null) => None // col = NULL never matches; no pruning claim
        case (StringType, v) => bloomProbeHash(v)
        case (_, v: Byte)  => bloomProbeHash(v.toLong)
        case (_, v: Short) => bloomProbeHash(v.toLong)
        case (_, v: Int)   => bloomProbeHash(v.toLong)
        case (_, v: Long)  => bloomProbeHash(v)
        case _ => None
      }
    object Lit {
      def unapply(e: Expression): Option[Literal] = e match {
        case l: Literal => Some(l)
        case c if c.foldable =>
          scala.util.Try(Literal.create(c.eval(), c.dataType)).toOption
        case _ => None
      }
    }
    conjuncts(cond).flatMap {
      case EqualTo(a, Lit(l)) if attrOf(a).isDefined =>
        attrOf(a).flatMap(ar => hashLit(ar, l).map(h => (ar.name, Seq(h))))
      case EqualTo(Lit(l), a) if attrOf(a).isDefined =>
        attrOf(a).flatMap(ar => hashLit(ar, l).map(h => (ar.name, Seq(h))))
      case In(a, vs) if attrOf(a).isDefined && vs.nonEmpty =>
        attrOf(a).flatMap { ar =>
          val hs = vs.map {
            case Lit(l) => hashLit(ar, l)
            case _      => None
          }
          // every branch must be probeable or the conjunct is unusable
          // (an unprobeable branch could match rows in any file); a
          // NULL branch simply never matches and drops out
          val nonNull = vs.zip(hs).filterNot { case (v, _) =>
            Lit.unapply(v).exists(_.value == null) }
          if (nonNull.forall(_._2.isDefined))
            Some((ar.name, nonNull.flatMap(_._2)))
          else None
        }
      case _ => None
    }
  }
}
