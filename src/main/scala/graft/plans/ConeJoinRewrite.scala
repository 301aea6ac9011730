package graft.plans

import graft.functions.{ConeContains, RectContains}
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** The one construction of the cone and rectangle joins' candidate
  * plan: an inner theta-join whose condition has the declarative
  * [[ConeContains]] (or [[RectContains]]) predicate as a top-level
  * conjunct becomes the sky-cell EQUI-join over the [[SkyCells]]
  * cover:
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
  * Two entry points call it:
  *  - [[cellJoin]], on a DataFrame with an explicit cell side — what
  *    `ConeJoin.bandJoin` and `RectJoin.bandJoin` apply, so they need
  *    no session extension;
  *  - the optimizer rule (the class below, installed by
  *    [[graft.GraftExtensions]]), which takes the cell side from the
  *    reach: 3 × the radius or the rectangle's circumradius when that
  *    is a literal after optimization, `SkyCells.DefaultCellDeg`
  *    otherwise.
  *
  * Without it Spark's only strategy for the theta condition is a
  * nested-loop join; with it candidate generation is a hash/sort
  * equi-join on one `long` key, and the original predicate stays the
  * exact residual — results identical by construction.
  *
  * Loop safety: the rewritten join's condition is a plain key
  * equality, and joins that already carry a cross-side equality
  * conjunct are skipped — so re-matching after predicate pushdown
  * folds the residual back into the join (or after `bandJoin` already
  * rewrote it) is a no-op.
  */
object ConeJoinRewrite {

  /** `joined`, a cone or rectangle theta-join, rewritten to the
    * sky-cell equi-join with cells of `cellDeg`. A DataFrame without
    * such a join is returned as it is. */
  def cellJoin(joined: DataFrame, cellDeg: Double): DataFrame = {
    val spark = joined.sparkSession
    graftbridge.ofRows(spark, rewrite(joined.queryExecution.analyzed,
      _ => cellDeg, spark.sessionState.conf.sessionLocalTimeZone))
  }

  /** The normalized shape of a rewritable spatial predicate: the
    * object/sample coordinate expressions, the sample's [[SkyCells]]
    * reach, its size in degrees when a literal (radius or
    * circumradius), and the two sides' reference sets. */
  private case class Spatial(ra: Expression, dec: Expression,
                             sRa: Expression, sDec: Expression,
                             reach: SkyCells.Reach, sizeDeg: Option[Double],
                             objRefs: AttributeSet, smpRefs: AttributeSet)

  /** The rule's cell side: 3 × a literal sample size, else the default. */
  private def derivedCellDeg(sp: Spatial): Double =
    sp.sizeDeg.fold(SkyCells.DefaultCellDeg)(SkyCells.cellDeg)

  private def literal(e: Expression): Option[Double] = e match {
    case Literal(v: Double, DoubleType) => Some(v)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** An equality conjunct whose sides reference BOTH join children —
    * i.e. a usable hash-join key. Its presence means the join is
    * already equi-joinable (and in particular means this join is our
    * own cell rewrite — the loop-safety guard); a single-side
    * equality like `x % 2 = 0` must NOT block the rewrite. */
  private def hasCrossSideEquality(cond: Expression, left: LogicalPlan,
                                   right: LogicalPlan): Boolean = {
    def spans(a: Expression, b: Expression) =
      a.references.nonEmpty && a.references.subsetOf(left.outputSet) &&
        b.references.nonEmpty && b.references.subsetOf(right.outputSet)
    conjuncts(cond).exists {
      case EqualTo(a, b) => spans(a, b) || spans(b, a)
      case _ => false
    }
  }

  /** The cell restriction is only sound when the spatial predicate
    * must hold for every surviving row — i.e. it is a TOP-LEVEL
    * CONJUNCT. One nested under OR/NOT must not trigger the rewrite
    * (restricting candidates to cell matches would drop rows the
    * other disjunct admits). */
  private def conjunctiveSpatial(cond: Expression): Option[Spatial] =
    conjuncts(cond).collectFirst {
      case c: ConeContains if c.children.forall(_.dataType == DoubleType) =>
        Spatial(c.ra, c.dec, c.sRa, c.sDec,
          SkyCells.coneReach(c.sDec, c.radiusDeg), literal(c.radiusDeg),
          c.ra.references ++ c.dec.references,
          c.sRa.references ++ c.sDec.references ++ c.radiusDeg.references)
      case r: RectContains if r.children.forall(_.dataType == DoubleType) =>
        Spatial(r.ra, r.dec, r.sRa, r.sDec,
          SkyCells.rectReach(r.sDec, r.widthDeg, r.heightDeg),
          for (w <- literal(r.widthDeg); h <- literal(r.heightDeg))
            yield math.hypot(w, h) / 2.0,
          r.ra.references ++ r.dec.references,
          r.sRa.references ++ r.sDec.references ++
            r.widthDeg.references ++ r.heightDeg.references)
    }

  private def rewrite(plan: LogicalPlan, cellDeg: Spatial => Double,
                      timeZoneId: String): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _)
        if !hasCrossSideEquality(cond, left, right) =>
      conjunctiveSpatial(cond)
        .flatMap(sp => equiJoin(j, sp, cellDeg(sp), timeZoneId))
        .getOrElse(j)
  }

  /** The sky-cell equi-join of `j` — the only place it is built. */
  private def equiJoin(j: Join, sp: Spatial, cellDeg: Double,
                       timeZoneId: String): Option[LogicalPlan] = {
    // (ra, dec) must bind to one side and the sample fields to the other
    val (catalog, samples, catalogIsLeft) =
      if (sp.objRefs.subsetOf(j.left.outputSet) && sp.smpRefs.subsetOf(j.right.outputSet))
        (j.left, j.right, true)
      else if (sp.objRefs.subsetOf(j.right.outputSet) && sp.smpRefs.subsetOf(j.left.outputSet))
        (j.right, j.left, false)
      else return None

    val (covered, keyS) = SkyCells.cover(samples, sp.sRa, sp.sDec, sp.reach,
      cellDeg, timeZoneId)
    val keyC = Alias(SkyCells.objectKey(sp.ra, sp.dec, cellDeg), SkyCells.KeyName)()
    val keyed = Project(catalog.output :+ keyC, catalog)
    val (newLeft, newRight) =
      if (catalogIsLeft) (keyed, covered) else (covered, keyed)
    // cheap dec-box conjuncts first (widened like the cover, so they
    // only prune), the exact predicate and any other original
    // conjuncts as residual
    val decReach = Add(sp.reach.dec, Literal(SkyCells.SlackDeg))
    val decBox = And(
      GreaterThanOrEqual(sp.dec, Subtract(sp.sDec, decReach)),
      LessThanOrEqual(sp.dec, Add(sp.sDec, decReach)))
    Some(Project(j.output,
      Filter(And(decBox, j.condition.get),
        Join(newLeft, newRight, Inner,
          Some(EqualTo(keyC.toAttribute, keyS)), j.hint))))
  }
}

/** The optimizer-rule entry of [[ConeJoinRewrite]]: every declarative
  * cone/rectangle join in a plan, with the cell side taken from the
  * reach. Installed by [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`). */
class ConeJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    ConeJoinRewrite.rewrite(plan, ConeJoinRewrite.derivedCellDeg,
      spark.sessionState.conf.sessionLocalTimeZone)
}
