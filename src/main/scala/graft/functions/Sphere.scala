package graft.functions

import org.apache.spark.sql.{Column, graftbridge}
import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Cos, Divide, Expression,
  GreaterThanOrEqual, If, Least, Literal, ToRadians}

/** Spherical-geometry column algebra.
  *
  * The one domain scalar the reference engine owns is the angular
  * separation between a sample center and each catalog object
  * (delegated to astropy's `SkyCoord.separation` at
  * /root/reference/README.md:62-66; the engine passes the region into
  * every transformation at /root/reference/src/cosmap/analysis/task.py:185).
  *
  * Design decision (SURVEY.md §7): no UDFs — every function here
  * stays inside WholeStageCodegen and is visible to the optimizer.
  * The separation is the codegen'd `AngularSepDeg` expression over the
  * one haversine kernel the cone joins' membership predicate also
  * calls; the RA pad is a composition of built-in Catalyst expressions.
  */
object Sphere {

  /** Deterministic uniform draw in [0,1) keyed by (id, salt).
    *
    * Replaces the reference's `np.random.default_rng` draw
    * (/root/reference/src/cosmap/analysis/sampler.py:87-104) with a
    * *partitioning-independent* construction: `rand(seed)` changes
    * value when Spark re-partitions the source, a hash of the row id
    * does not — so a 1000-executor run and a local[32] run produce the
    * identical sample set. The mixer is splitmix64 rather than
    * xxhash64 so the DuckDB oracle can replay the identical draw in
    * pure 64-bit SQL arithmetic (see [[SplitMix64]]) — this made the
    * sampler-driven gate queries (q32/q33) EXACT instead of rows-only.
    */
  def hashUniform(id: Column, salt: Long): Column =
    SplitMix64.uniform(id, salt)

  /** Great-circle separation in degrees between (ra1,dec1) and
    * (ra2,dec2), all in degrees — the haversine kernel
    * `ConeContainsKernel.sepDeg` (numerically stable at small
    * separations, where the arccos form loses precision exactly in the
    * reference's regime of arcminute-scale radii), the same one the
    * cone joins' membership predicate evaluates. */
  def angularSepDeg(ra1: Column, dec1: Column, ra2: Column, dec2: Column): Column =
    graftbridge.toColumn(AngularSepDeg(graftbridge.toExpression(ra1),
      graftbridge.toExpression(dec1), graftbridge.toExpression(ra2),
      graftbridge.toExpression(dec2)))

  /** Safe half-width of the RA interval covered by a cone of
    * `radiusDeg` centered at declination `decDeg`: the linear bound
    * r / cos(|dec|+r), and 180° (every RA) once the cone comes within
    * 0.1° of a pole, where that bound stops being sound. Always ≥ the
    * true extent asin(sin r / cos dec) — soundness is property-tested
    * (the reference's version at
    * /root/reference/src/cosmap/dataset/opencosmo.py:42-50 is both
    * unwidened and sign-buggy at line 48; fixed here, not replicated). */
  def raPad(decDeg: Column, radiusDeg: Column): Column =
    graftbridge.toColumn(raPadExpr(
      graftbridge.toExpression(decDeg), graftbridge.toExpression(radiusDeg)))

  /** [[raPad]] as a Catalyst expression, for plan rewrites. */
  def raPadExpr(decDeg: Expression, radiusDeg: Expression): Expression = {
    val edge = Add(Abs(decDeg), radiusDeg)
    If(GreaterThanOrEqual(edge, Literal(PolarEdgeDeg)), Literal(180.0),
      Least(Seq(Literal(180.0), Divide(radiusDeg, Cos(ToRadians(edge))))))
  }

  /** The [[raPadExpr]] rule on plain doubles, for a footprint of RA
    * half-width `halfWidthDeg` whose poleward edge is at |dec|
    * `edgeDeg`: 180° once the edge is within 0.1° of a pole, else
    * min(180°, halfWidth / cos(edge)). */
  def raPadDeg(edgeDeg: Double, halfWidthDeg: Double): Double =
    if (edgeDeg >= PolarEdgeDeg) 180.0
    else math.min(180.0, halfWidthDeg / math.cos(math.toRadians(edgeDeg)))

  /** The |dec| from which an RA pad is taken as every RA. */
  private val PolarEdgeDeg = 89.9
}
