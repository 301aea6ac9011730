package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Predicate}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The one separation kernel and the one membership kernel per sample
  * shape (degrees in). Every cone and rectangle join, plan and output
  * column evaluates these, in eval and in generated code alike. */
object ConeContainsKernel {

  /** Haversine great-circle separation of (ra1, dec1) and (ra2, dec2).
    * Operand order is the one q33's DuckDB oracle mirrors (`dec2 −
    * dec1`, `cos(dec1)·cos(dec2)`, `asin(…)·2`), so both engines
    * evaluate the same IEEE expression tree. */
  def sepDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val sinDLat = math.sin(math.toRadians(dec2 - dec1) / 2.0)
    val sinDLon = math.sin(math.toRadians(ra2 - ra1) / 2.0)
    val h = sinDLat * sinDLat +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
        sinDLon * sinDLon
    math.toDegrees(math.asin(math.min(1.0, math.sqrt(h))) * 2.0)
  }

  /** Cone membership: separation ≤ radius. */
  def coneContains(ra: Double, dec: Double, sRa: Double, sDec: Double,
                   radiusDeg: Double): Boolean =
    sepDeg(ra, dec, sRa, sDec) <= radiusDeg

  /** Rectangle membership: |Δdec| ≤ h/2 and the wrapped RA distance
    * min(|Δra| mod 360, 360 − that) × cos(sDec) ≤ w/2 (the width is a
    * physical extent at the sample's declination). */
  def rectContains(ra: Double, dec: Double, sRa: Double, sDec: Double,
                   w: Double, h: Double): Boolean = {
    if (math.abs(dec - sDec) > h / 2.0) return false
    val d = math.abs(ra - sRa) % 360.0
    math.min(d, 360.0 - d) * math.cos(math.toRadians(sDec)) <= w / 2.0
  }
}

/** An expression over double children that calls one static method of
  * [[ConeContainsKernel]]; null on any null input. Generated code
  * evaluates the children inline and calls the same kernel as `eval`,
  * so both give identical results by construction. */
sealed trait KernelCall extends Expression with ImplicitCastInputTypes {
  /** The kernel method's name. */
  protected def kernel: String
  /** The kernel applied to the children's values, for `eval`. */
  protected def call(x: IndexedSeq[Double]): Any

  override def nullable: Boolean = children.exists(_.nullable)
  // numeric coordinates (float, decimal, integral) are cast to double
  override def inputTypes = children.map(_ => DoubleType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else call(vs.map(_.asInstanceOf[Double]).toIndexedSeq)
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
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.ConeContainsKernel.$kernel(
            ${evals.map(_.value.toString).mkString(", ")});
        }""")
  }
}

/** Declarative cone-membership predicate:
  * `ConeContains(ra, dec, sRa, sDec, radiusDeg)` is true iff the
  * object at (ra, dec) lies within `radiusDeg` of the sample center
  * (sRa, sDec) — all degrees. Null on any null input.
  *
  * This is the cone join's predicate. As an inner-join conjunct Spark
  * alone can only run it as a nested-loop theta join (the
  * `ConeJoin.broadcastJoin` reference); [[graft.plans.ConeJoinRewrite]]
  * turns such a join into the sky-cell equi-join with this same
  * predicate left as the exact residual — applied directly by
  * `ConeJoin.bandJoin`, or by the optimizer rule `graft.GraftExtensions`
  * installs. Results are identical by construction. */
case class ConeContains(ra: Expression, dec: Expression,
                        sRa: Expression, sDec: Expression,
                        radiusDeg: Expression)
    extends KernelCall with Predicate {

  override def children: Seq[Expression] = Seq(ra, dec, sRa, sDec, radiusDeg)
  override def prettyName: String = "cone_contains"
  override protected def kernel: String = "coneContains"
  override protected def call(x: IndexedSeq[Double]): Any =
    ConeContainsKernel.coneContains(x(0), x(1), x(2), x(3), x(4))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ConeContains =
    ConeContains(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}

/** Declarative rectangle-membership predicate (the [[ConeContains]]
  * analog for Rectangle samples, see `ConeContainsKernel.rectContains`):
  * |dec − sDec| ≤ height/2 AND wraparound-safe RA distance × cos(sDec)
  * ≤ width/2. Joined on the sky cells by [[graft.plans.ConeJoinRewrite]]
  * like the cone. */
case class RectContains(ra: Expression, dec: Expression,
                        sRa: Expression, sDec: Expression,
                        widthDeg: Expression, heightDeg: Expression)
    extends KernelCall with Predicate {

  override def children: Seq[Expression] =
    Seq(ra, dec, sRa, sDec, widthDeg, heightDeg)
  override def prettyName: String = "rect_contains"
  override protected def kernel: String = "rectContains"
  override protected def call(x: IndexedSeq[Double]): Any =
    ConeContainsKernel.rectContains(x(0), x(1), x(2), x(3), x(4), x(5))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RectContains =
    RectContains(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4), newChildren(5))
}

/** Angular separation in degrees of (ra1, dec1) and (ra2, dec2), by
  * `ConeContainsKernel.sepDeg` — the column form is
  * `Sphere.angularSepDeg`. */
case class AngularSepDeg(ra1: Expression, dec1: Expression,
                         ra2: Expression, dec2: Expression)
    extends KernelCall {

  override def children: Seq[Expression] = Seq(ra1, dec1, ra2, dec2)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "angular_sep_deg"
  override protected def kernel: String = "sepDeg"
  override protected def call(x: IndexedSeq[Double]): Any =
    ConeContainsKernel.sepDeg(x(0), x(1), x(2), x(3))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AngularSepDeg =
    AngularSepDeg(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

object ConeContainsFn {
  private def e(c: Column): Expression = graftbridge.toExpression(c)

  def coneContains(ra: Column, dec: Column, sRa: Column, sDec: Column,
                   radiusDeg: Column): Column =
    graftbridge.toColumn(ConeContains(e(ra), e(dec), e(sRa), e(sDec), e(radiusDeg)))

  def rectContains(ra: Column, dec: Column, sRa: Column, sDec: Column,
                   widthDeg: Column, heightDeg: Column): Column =
    graftbridge.toColumn(RectContains(e(ra), e(dec), e(sRa), e(sDec),
      e(widthDeg), e(heightDeg)))
}
