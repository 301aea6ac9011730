package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.DoubleType

/** Haversine / rectangle membership kernels (degrees in). */
object ConeContainsKernel {
  def sepDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val dDec = math.toRadians(dec1 - dec2) / 2.0
    val dRa = math.toRadians(ra1 - ra2) / 2.0
    val h = math.sin(dDec) * math.sin(dDec) +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
        math.sin(dRa) * math.sin(dRa)
    math.toDegrees(2.0 * math.asin(math.min(1.0, math.sqrt(h))))
  }

  /** Same membership rule as graft.plans.RectJoin's `inside` column:
    * |Δdec| ≤ h/2 and wrapped RA distance × cos(sDec) ≤ w/2. */
  def rectContains(ra: Double, dec: Double, sRa: Double, sDec: Double,
                   w: Double, h: Double): Boolean = {
    if (math.abs(dec - sDec) > h / 2.0) return false
    val d = math.abs(((ra - sRa) % 360.0 + 540.0) % 360.0 - 180.0)
    d * math.cos(math.toRadians(sDec)) <= w / 2.0
  }
}

/** Declarative cone-membership predicate:
  * `ConeContains(ra, dec, sRa, sDec, radiusDeg)` is true iff the
  * object at (ra, dec) lies within `radiusDeg` of the sample center
  * (sRa, sDec) — all degrees. Null on any null input.
  *
  * This is the user-facing predicate form of the cone join: written
  * naively (`catalog.join(samples, Sphere.coneContains(...))`) Spark
  * can only execute it as a nested-loop theta join; the
  * [[graft.plans.ConeJoinRewrite]] optimizer rule (installed by
  * `graft.GraftExtensions`) recognizes it in an inner-join condition
  * and rewrites the join to the sky-cell equi-join plan with this
  * same predicate left as the exact residual — so results are
  * identical by construction and the rewrite is purely a physical
  * improvement. */
case class ConeContains(ra: Expression, dec: Expression,
                        sRa: Expression, sDec: Expression,
                        radiusDeg: Expression)
    extends Expression with Predicate {

  override def children: Seq[Expression] = Seq(ra, dec, sRa, sDec, radiusDeg)
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cone_contains requires five double arguments, got ${children.map(_.dataType)}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val Seq(r, d, sr, sd, rad) = vs.map(_.asInstanceOf[Double])
      ConeContainsKernel.sepDeg(r, d, sr, sd) <= rad
    }
  }

  /** Generated stage evaluates the children inline and calls the
    * shared static kernel — identical results to eval by
    * construction (same pattern as the sketch kernels). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val nullTerms = evals.map(_.isNull.toString).filterNot(_ == "false")
    val anyNull = if (nullTerms.isEmpty) "false" else nullTerms.mkString(" || ")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.ConeContainsKernel.sepDeg(
            ${evals(0).value}, ${evals(1).value},
            ${evals(2).value}, ${evals(3).value}) <= ${evals(4).value};
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ConeContains =
    ConeContains(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}

/** Declarative rectangle-membership predicate (the [[ConeContains]]
  * analog for Rectangle samples; semantics of
  * [[graft.plans.RectJoin]]): |dec − sDec| ≤ height/2 AND
  * wraparound-safe RA distance × cos(sDec) ≤ width/2. Rewritten to a
  * sky-cell equi-join by [[graft.plans.ConeJoinRewrite]] when used as an
  * inner-join conjunct. */
case class RectContains(ra: Expression, dec: Expression,
                        sRa: Expression, sDec: Expression,
                        widthDeg: Expression, heightDeg: Expression)
    extends Expression with Predicate {

  override def children: Seq[Expression] =
    Seq(ra, dec, sRa, sDec, widthDeg, heightDeg)
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rect_contains requires six double arguments, got ${children.map(_.dataType)}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val Seq(r, d, sr, sd, w, h) = vs.map(_.asInstanceOf[Double])
      ConeContainsKernel.rectContains(r, d, sr, sd, w, h)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val nullTerms = evals.map(_.isNull.toString).filterNot(_ == "false")
    val anyNull = if (nullTerms.isEmpty) "false" else nullTerms.mkString(" || ")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.ConeContainsKernel.rectContains(
            ${evals(0).value}, ${evals(1).value}, ${evals(2).value},
            ${evals(3).value}, ${evals(4).value}, ${evals(5).value});
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RectContains =
    RectContains(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4), newChildren(5))
}

object ConeContainsFn {
  def coneContains(ra: Column, dec: Column, sRa: Column, sDec: Column,
                   radiusDeg: Column): Column =
    graftbridge.toColumn(ConeContains(
      graftbridge.toExpression(ra), graftbridge.toExpression(dec),
      graftbridge.toExpression(sRa), graftbridge.toExpression(sDec),
      graftbridge.toExpression(radiusDeg)))

  def rectContains(ra: Column, dec: Column, sRa: Column, sDec: Column,
                   widthDeg: Column, heightDeg: Column): Column =
    graftbridge.toColumn(RectContains(
      graftbridge.toExpression(ra), graftbridge.toExpression(dec),
      graftbridge.toExpression(sRa), graftbridge.toExpression(sDec),
      graftbridge.toExpression(widthDeg), graftbridge.toExpression(heightDeg)))
}
