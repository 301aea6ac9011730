package graft.plans

import graft.functions.{ConeContains, RectContains}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: rewrite an inner theta-join whose condition is the
  * declarative [[ConeContains]] (or [[RectContains]]) predicate into
  * the sky-cell EQUI-join plan that `ConeJoin.bandJoin` and
  * `RectJoin.bandJoin` build, from the same [[SkyCells]] cover:
  *
  * {{{
  *   Join(cat, smp, Inner, cone_contains(ra, dec, sRa, sDec, r))
  * ⇒ Project(join.output,
  *     Filter(dec BETWEEN sDec ± r AND cone_contains(...),  // exact residual
  *       Join(Project(cat, graft_band_cell = objectKey(ra, dec)),
  *            SkyCells.cover(smp),   // one row per covered cell
  *            Inner, cat.graft_band_cell = smp.graft_band_cell)))
  * }}}
  *
  * The key packs (dec band, RA cell whose width scales with
  * 1/cos dec) into one `long`; the cover wraps at RA 0/360 and takes
  * every cell of a band near a pole (see [[SkyCells]]). Without the
  * rule Spark's only strategy for the theta condition is a nested-loop
  * join; with it, candidate generation becomes a hash/sort equi-join on
  * the cell key, with the original predicate kept as the exact
  * residual — results identical by construction, the plan is the
  * 100 TB shape. The radius is a column, so the cell side is a session
  * setting: `spark.graft.coneJoin.bandDeg` (default
  * `SkyCells.DefaultCellDeg`, 0.1°, sized for 2′ samples; set it to
  * about 3 × the sample reach). Installed by [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`).
  *
  * Loop safety: the rewritten join's condition is a plain key
  * equality, and the rule skips joins that already carry an equality
  * conjunct — so re-matching after predicate pushdown folds the
  * residual back into the join is a no-op.
  */
class ConeJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def cellDeg: Double =
    spark.conf.get("spark.graft.coneJoin.bandDeg",
      SkyCells.DefaultCellDeg.toString).toDouble

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** An equality conjunct whose sides reference BOTH join children —
    * i.e. a usable hash-join key. Its presence means the join is
    * already equi-joinable (and in particular means this join is our
    * own band rewrite — the loop-safety guard); a single-side
    * equality like `x % 2 = 0` must NOT block the rewrite. */
  private def hasCrossSideEquality(cond: Expression, left: LogicalPlan,
                                   right: LogicalPlan): Boolean =
    conjuncts(cond).exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && a.references.nonEmpty &&
          b.references.subsetOf(right.outputSet) && b.references.nonEmpty) ||
          (a.references.subsetOf(right.outputSet) && a.references.nonEmpty &&
            b.references.subsetOf(left.outputSet) && b.references.nonEmpty)
      case _ => false
    }

  /** The normalized shape of a rewritable spatial predicate: the
    * object/sample coordinate expressions, the sample's [[SkyCells]]
    * reach, and the two sides' reference sets. */
  private case class Spatial(ra: Expression, dec: Expression,
                             sRa: Expression, sDec: Expression,
                             reach: SkyCells.Reach,
                             objRefs: AttributeSet, smpRefs: AttributeSet)

  /** The cell restriction is only sound when the spatial predicate
    * must hold for every surviving row — i.e. it is a TOP-LEVEL
    * CONJUNCT. One nested under OR/NOT must not trigger the rewrite
    * (restricting candidates to cell matches would drop rows the
    * other disjunct admits). */
  private def conjunctiveSpatial(cond: Expression): Option[Spatial] =
    conjuncts(cond).collectFirst {
      case c: ConeContains if c.children.forall(_.dataType == DoubleType) =>
        Spatial(c.ra, c.dec, c.sRa, c.sDec,
          SkyCells.coneReach(c.sDec, c.radiusDeg),
          c.ra.references ++ c.dec.references,
          c.sRa.references ++ c.sDec.references ++ c.radiusDeg.references)
      case r: RectContains if r.children.forall(_.dataType == DoubleType) =>
        Spatial(r.ra, r.dec, r.sRa, r.sDec,
          SkyCells.rectReach(r.sDec, r.widthDeg, r.heightDeg),
          r.ra.references ++ r.dec.references,
          r.sRa.references ++ r.sDec.references ++
            r.widthDeg.references ++ r.heightDeg.references)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !hasCrossSideEquality(cond, left, right) =>
      conjunctiveSpatial(cond) match {
        case Some(sp) => rewrite(j, left, right, cond, sp, hint).getOrElse(j)
        case None => j
      }
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, cc: Spatial,
                      hint: JoinHint): Option[LogicalPlan] = {
    // (ra, dec) must bind to one side and the sample fields to the other
    val objRefs = cc.objRefs
    val smpRefs = cc.smpRefs
    val (catalog, samples, catalogIsLeft) =
      if (objRefs.subsetOf(left.outputSet) && smpRefs.subsetOf(right.outputSet))
        (left, right, true)
      else if (objRefs.subsetOf(right.outputSet) && smpRefs.subsetOf(left.outputSet))
        (right, left, false)
      else return None

    val (covered, keyS) = SkyCells.cover(samples, cc.sRa, cc.sDec, cc.reach,
      cellDeg, spark.sessionState.conf.sessionLocalTimeZone)
    val keyCAlias = Alias(SkyCells.objectKey(cc.ra, cc.dec, cellDeg),
      SkyCells.KeyName)()
    val keyed = Project(catalog.output :+ keyCAlias, catalog)
    val (newLeft, newRight) =
      if (catalogIsLeft) (keyed, covered) else (covered, keyed)
    // cheap dec-box conjuncts first, the exact predicate (and any other
    // original conjuncts) as residual
    val decBox = And(
      GreaterThanOrEqual(cc.dec, Subtract(cc.sDec, cc.reach.dec)),
      LessThanOrEqual(cc.dec, Add(cc.sDec, cc.reach.dec)))
    val rewritten = Project(j.output,
      Filter(And(decBox, cond),
        Join(newLeft, newRight, Inner,
          Some(EqualTo(keyCAlias.toAttribute, keyS)), hint)))
    Some(rewritten)
  }
}
