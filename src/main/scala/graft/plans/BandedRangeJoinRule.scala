package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Banded rewrite for range theta joins: point-in-interval
  * (`lo <= p AND p <= hi`) and interval-interval overlap
  * (`sL <= eR AND sR <= eL`).
  *
  * A join whose only cross-side predicates are range bounds has no
  * equi-key, so Spark plans a nested-loop join: broadcast if one side
  * is small, else quadratic-per-partition. At 100 TB that is a
  * non-starter even when result cardinality is modest (e.g. events
  * landing in promo windows, readings between calibration bounds,
  * pairs of bookings whose stay windows touch).
  *
  * The standard fix (the shape behind Databricks' RANGE_JOIN bin
  * hint, here derived from first principles on public Spark APIs) is
  * to quantize the domain into fixed-width bands: the interval side
  * explodes onto every band its `[lo, hi]` overlaps, the point side
  * computes its single band, the two meet with an ordinary equi-join
  * on the band id, and the original predicate runs as a residual
  * filter. Catalyst then plans a shuffled sort-merge/hash join that
  * partitions on the band — distributed, skew-splittable by AQE, and
  * linear in matches per band instead of |L|×|R|.
  *
  * Shuffle volume on the interval side is rows × bands-per-interval,
  * so pick `binSize` of the same order as the typical interval width
  * (too fine multiplies the explode; too coarse fattens buckets
  * toward the nested-loop it replaces).
  *
  * Two entry points:
  *  - as an optimizer rule, gated on `spark.graft.rangeJoin.binSize`
  *    (> 0 enables; units: micros for timestamps, raw value for
  *    integers) and installed by [[graft.Graft.install]] — the
  *    user writes the naive declarative join and the engine makes it
  *    scale;
  *  - [[graft.ops.RangeJoin.banded]] applies the same rewrite to one
  *    DataFrame explicitly, no session conf involved.
  *
  * Supported: INNER joins; point/bounds of integral, timestamp (with
  * or without time zone) or date type; bounds may be arbitrary
  * expressions of their side (e.g. `ts - INTERVAL 5 MINUTE`).
  * Point-in-interval joins that already carry a cross-side
  * equi-conjunct are left untouched — Spark has a shuffle key there
  * and a single-band point adds nothing. The overlap shape rewrites
  * even with an equi-key present: same-key self-overlap is its common
  * form, and the key alone leaves per-key all-pairs work (quadratic
  * in the hottest key); the band becomes an ADDITIONAL join key. The
  * overlap rewrite emits every qualifying pair exactly once (no
  * distinct needed): a residual equality keeps a pair only in the
  * first band both sides share, `band(greatest(sL, sR))`.
  */
object BandedRangeJoin extends Rule[LogicalPlan] {

  /** Band width; > 0 turns the automatic rewrite on. */
  val BinSizeConf = "spark.graft.rangeJoin.binSize"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bin =
      try conf.getConfString(BinSizeConf, "0").toLong
      catch { case _: NumberFormatException => 0L }
    if (bin <= 0L) plan
    else plan.transform {
      case j: Join => rewriteJoin(j, bin).getOrElse(j)
    }
  }

  /** Rewrite one Join node, or None when the shape does not match.
    * Two shapes are recognized:
    *
    *  1. point-in-interval — `lo <= p AND p <= hi`, `p` from one side,
    *     both bounds from the other, and NO cross-side equi-conjunct
    *     (with one, Spark already has a shuffle key and a single-band
    *     point adds nothing);
    *  2. interval-interval overlap — `sL <= eR AND sR <= eL` with all
    *     four expressions distinct. This one rewrites EVEN IF an
    *     equi-key is present: the common shape is a same-key
    *     self-overlap (pairs of a customer's orders whose windows
    *     touch), where the equi-key alone leaves a per-key all-pairs
    *     product — quadratic in the hottest key. The band joins the
    *     shuffle key instead of replacing it.
    */
  def rewriteJoin(j: Join, binSize: Long): Option[LogicalPlan] = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    if (j.joinType != Inner) return None
    // Never re-rewrite our own output: the rewritten join still carries
    // the original range predicate as a residual, so without this
    // guard transformDown/fixed-point iteration would band the banded
    // plan forever.
    if ((j.left.output ++ j.right.output)
        .exists(_.name.startsWith("__graft_band"))) return None
    val cond = j.condition.getOrElse(return None)
    val conjuncts = splitConjuncts(cond)

    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    // Some(true) = references only the left side, Some(false) = only
    // the right; None = constant or mixed (unusable as a bound).
    def side(e: Expression): Option[Boolean] = {
      val r = e.references
      if (r.isEmpty) None
      else if (r.subsetOf(leftOut)) Some(true)
      else if (r.subsetOf(rightOut)) Some(false)
      else None
    }
    def crossSide(a: Expression, b: Expression): Boolean =
      (for { sa <- side(a); sb <- side(b) } yield sa != sb).getOrElse(false)

    val hasEquiKey = conjuncts.exists {
      case EqualTo(a, b)       => crossSide(a, b)
      case EqualNullSafe(a, b) => crossSide(a, b)
      case _                   => false
    }

    // Normalize every cross-side inequality to (small, large).
    val ineqs = conjuncts.flatMap {
      case LessThanOrEqual(a, b) if crossSide(a, b)    => Seq((a, b))
      case LessThan(a, b) if crossSide(a, b)           => Seq((a, b))
      case GreaterThanOrEqual(a, b) if crossSide(a, b) => Seq((b, a))
      case GreaterThan(a, b) if crossSide(a, b)        => Seq((b, a))
      case _                                           => Nil
    }
    // Point-in-interval: a pair (lo <= p, p <= hi) where p is the
    // same expression in both and lo/hi both live on p's other side.
    // Strict bounds band identically: p > lo still implies
    // band(p) ∈ [band(lo), band(hi)] because floorDiv is monotone.
    val pointPattern = (for {
      (lo, p1) <- ineqs.iterator
      (p2, hi) <- ineqs.iterator
      if p1.semanticEquals(p2)
      ps <- side(p1)
      ls <- side(lo)
      hs <- side(hi)
      if ls == hs && ls != ps
      if bandable(p1.dataType)
    } yield (p1, lo, hi, ps)).nextOption()

    pointPattern.filter(_ => !hasEquiKey).map { case (point, lo, hi, pointOnLeft) =>
      val (pointPlan, intervalPlan) =
        if (pointOnLeft) (j.left, j.right) else (j.right, j.left)

      // Interval side: drop rows that cannot match (null or inverted
      // bounds — for THIS pattern any match implies lo <= hi), then
      // explode onto every band the interval overlaps.
      val intervalFiltered = Filter(
        And(And(IsNotNull(lo), IsNotNull(hi)), LessThanOrEqual(lo, hi)),
        intervalPlan)
      val (cells, cellAttr) = explodeBands(intervalFiltered, lo, hi, binSize)

      // Point side: a single band per row.
      val bandAlias = Alias(floorDiv(toLong(point), binSize), "__graft_band")()
      val banded = Project(
        pointPlan.output :+ bandAlias,
        Filter(IsNotNull(point), pointPlan))
      val bandAttr = bandAlias.toAttribute

      val (newLeft, newRight) =
        if (pointOnLeft) (banded, cells) else (cells, banded)
      // Residual keeps the ORIGINAL predicate verbatim, so strict
      // bounds, tolerance arithmetic, and extra conjuncts all apply
      // exactly; the equi-conjunct only routes candidates.
      val rejoined = Join(newLeft, newRight, Inner,
        Some(And(EqualTo(bandAttr, cellAttr), cond)), j.hint)
      Project(j.output, rejoined)
    }.orElse {
      // Interval-interval overlap: (sL <= eR, sR <= eL) with sL/eL on
      // one side, sR/eR on the other, all four distinct expressions
      // (the degenerate sL==eL / sR==eR case IS point-in-interval and
      // keeps that path's equi-key bail). All four must band in the
      // same long domain.
      val candidates = (for {
        (a, b) <- ineqs.iterator // a = sL <= b = eR
        (c, d) <- ineqs.iterator // c = sR <= d = eL
        sa <- side(a); sb <- side(b); sc <- side(c); sd <- side(d)
        if sa == sd && sb == sc && sa != sb
        if !a.semanticEquals(d) && !b.semanticEquals(c)
        if Seq(a, b, c, d).forall(e => bandable(e.dataType))
        // Greatest() needs exact type agreement within each side
        if a.dataType == d.dataType && c.dataType == b.dataType
      } yield (a, d, c, b, sa)).toSeq
      // Several conjunct pairs can cross (e.g. an `idL < idR` tie-break
      // next to the real window bounds). Prefer an all-temporal pattern:
      // temporal bounds are near-certainly the intended interval, while
      // banding a surrogate-id range could explode onto millions of
      // cells.
      def temporal(dt: DataType): Boolean = dt match {
        case TimestampType | TimestampNTZType | DateType => true
        case _ => false
      }
      val overlap = candidates.sortBy { case (sL, eL, sR, eR, _) =>
        if (Seq(sL, eL, sR, eR).forall(e => temporal(e.dataType))) 0 else 1
      }.headOption

      overlap.map { case (sL, eL, sR, eR, leftHoldsL) =>
        // Each side explodes onto [band(s), band(greatest(s, e))] —
        // greatest (not a lo<=hi pre-filter) because the overlap
        // predicate does NOT imply s <= e on either side: an inverted
        // "interval" can still satisfy sL <= eR AND sR <= eL, and the
        // greatest() upper keeps its single band(s) cell alive.
        // Coverage proof for any matching pair: both sides cover
        // band(max(sL, sR)) — side L because sL <= max and
        // max(sL, sR) <= max(sL, eL) (from sR <= eL); side R
        // symmetrically (from sL <= eR).
        val (lPlanRaw, rPlanRaw) =
          if (leftHoldsL) (j.left, j.right) else (j.right, j.left)
        val (lCells, lCell) = explodeBands(
          Filter(And(IsNotNull(sL), IsNotNull(eL)), lPlanRaw),
          sL, Greatest(Seq(sL, eL)), binSize)
        val (rCells, rCell) = explodeBands(
          Filter(And(IsNotNull(sR), IsNotNull(eR)), rPlanRaw),
          sR, Greatest(Seq(sR, eR)), binSize)
        // Exactly-once without a distinct(): a pair may share many
        // bands, so emit it only in the FIRST band both sides cover —
        // band(greatest(sL, sR)) — as a residual equality on the cell.
        val firstShared = floorDiv(
          Greatest(Seq(toLong(sL), toLong(sR))), binSize)
        val (newLeft, newRight) =
          if (leftHoldsL) (lCells, rCells) else (rCells, lCells)
        val rejoined = Join(newLeft, newRight, Inner,
          Some(And(And(EqualTo(lCell, rCell), EqualTo(lCell, firstShared)),
            cond)), j.hint)
        Project(j.output, rejoined)
      }
    }
  }

  /** Explode `child` onto every band in [band(lo), band(hi)]; returns
    * the generated plan and its cell attribute.
    */
  private def explodeBands(child: LogicalPlan, lo: Expression,
      hi: Expression, binSize: Long): (LogicalPlan, Attribute) = {
    val cellAttr = AttributeReference("__graft_band_cell", LongType,
      nullable = false)()
    val gen = Generate(
      Explode(new Sequence(
        floorDiv(toLong(lo), binSize),
        floorDiv(toLong(hi), binSize),
        Some(Literal(1L, LongType)),
        Some(conf.sessionLocalTimeZone))),
      unrequiredChildIndex = Nil,
      outer = false,
      qualifier = None,
      generatorOutput = Seq(cellAttr),
      child = child)
    (gen, cellAttr)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  private def bandable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType |
        TimestampNTZType | DateType => true
    case _ => false
  }

  /** Map the banded domain to Long: integral widens, timestamps use
    * exact epoch micros (no ANSI cast semantics involved), dates use
    * epoch days (bin units: days). NTZ first rebinds to an instant in
    * the session zone — that mapping is non-decreasing in
    * local-datetime order (even across DST folds), which is all band
    * containment needs, and every bound of one pattern converts
    * through the same zone.
    */
  private def toLong(e: Expression): Expression = e.dataType match {
    case LongType         => e
    case TimestampType    => UnixMicros(e)
    case TimestampNTZType =>
      UnixMicros(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone)))
    case DateType         => Cast(UnixDate(e), LongType)
    case _                => Cast(e, LongType)
  }

  /** Exact floor division in integer arithmetic (correct for negative
    * values, unlike truncating `div`): a - pmod(a, w) is divisible by
    * w, so the integral divide is exact.
    */
  private def floorDiv(a: Expression, w: Long): Expression = {
    val lw = Literal(w, LongType)
    IntegralDivide(Subtract(a, Pmod(a, lw)), lw)
  }
}
