package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The 2-D sky-cell key that every cone and rectangle join equi-joins
  * on: [[ConeJoinRewrite]], the one construction of that join (applied by
  * [[ConeJoin.bandJoin]], [[RectJoin.bandJoin]] and the optimizer
  * rule), keys objects with [[objectKey]] and explodes samples with
  * [[cover]].
  *
  * Cells, for a cell side `c` in degrees:
  *  - `band = floor(dec / c)`;
  *  - band `b` holds `nRa(b) = max(1, floor(360·cos(edge)/c))` RA cells,
  *    where `edge` is the band's poleward edge (clamped to 90°), so a
  *    cell is at least `c` wide on the sky everywhere in its band and a
  *    band touching a pole is a single cell;
  *  - `raCell = pmod(floor(ra·nRa/360), nRa)`, wrapped at RA 0/360;
  *  - the key packs both into one `long`: `band·2³² + raCell`.
  *
  * A catalog object gets the one key of its cell. A sample is exploded
  * to every cell its reach covers: the bands of `sDec ± decReach`, and
  * in each band the RA cells of `sRa ± raReach`, both widened by
  * [[SlackDeg]] so rounding at a cell edge never drops a cell. The RA
  * range is capped at `nRa` cells and wrapped after the explode, so a
  * reach of 180° (a cone within 0.1° of a pole, see `Sphere.raPad`)
  * takes every cell of each band it touches. The cover is a superset,
  * so the exact membership predicate stays the join's residual and
  * results are identical to the theta join by construction.
  *
  * Cell side: [[cellDeg]] gives 3 × the sample reach, so a sample
  * covers 1–2 cells per axis and a candidate cell holds a few times
  * the true pairs. Everything is built from Catalyst expressions, so
  * the rewrite splices it into a plan and the join stays in codegen. */
object SkyCells {

  /** The cell side when the sample reach is not known (the 2-argument
    * `bandJoin`, or the rule over a non-literal radius): [[cellDeg]]
    * at the paper's 2′ sample radius. */
  val DefaultCellDeg: Double = 0.1

  /** Widening of every cover, in degrees. */
  val SlackDeg: Double = 1e-9

  /** Column name of the packed cell key. */
  val KeyName: String = "graft_band_cell"

  /** The cell side for samples of `reachDeg` (a circle's radius or a
    * rectangle's circumradius): 3 × the reach. */
  def cellDeg(reachDeg: Double): Double =
    if (reachDeg > 0) 3.0 * reachDeg else DefaultCellDeg

  /** How far a sample reaches from its centre: `dec` in declination,
    * `ra` in RA coordinate degrees (not on-sky degrees). */
  final case class Reach(dec: Expression, ra: Expression)

  /** A cone of `radius`: its RA reach is `Sphere.raPad`. */
  def coneReach(sDec: Expression, radius: Expression): Reach =
    Reach(radius, graft.functions.Sphere.raPadExpr(sDec, radius))

  /** A rectangle of on-sky `width` × `height` centred at `sDec`: the
    * RA reach solves (RA distance)·cos(sDec) ≤ width/2, clamped to 180°. */
  def rectReach(sDec: Expression, width: Expression, height: Expression): Reach =
    Reach(Divide(height, lit(2.0)),
      Least(Seq(lit(180.0),
        Divide(Divide(width, lit(2.0)), Cos(ToRadians(sDec))))))

  /** The cell key of an object at (ra, dec). */
  def objectKey(ra: Expression, dec: Expression, cellDeg: Double): Expression = {
    val b = band(dec, cellDeg)
    val n = nRa(b, cellDeg)
    pack(b, Pmod(raCell(ra, n), n))
  }

  /** `samples` exploded to one row per covered cell: its own output
    * plus the key attribute (returned). */
  def cover(samples: LogicalPlan, sRa: Expression, sDec: Expression,
            reach: Reach, cellDeg: Double,
            timeZoneId: String): (LogicalPlan, Attribute) = {
    // nRa ≤ 360/c must fit the 32 low bits of the key
    require(cellDeg >= 1e-6, s"cell side must be at least 1e-6 degrees, got $cellDeg")
    def seq(lo: Expression, hi: Expression) =
      Explode(Sequence(lo, hi, None, Some(timeZoneId)))
    def generate(gen: Generator, out: Attribute, child: LogicalPlan) =
      Generate(gen, unrequiredChildIndex = Nil, outer = false,
        qualifier = None, generatorOutput = Seq(out), child = child)

    // the RA reach once per sample, then one row per covered band
    val raReach = Alias(Add(Least(Seq(lit(180.0), reach.ra)), lit(SlackDeg)),
      "graft_ra_reach")()
    val withReach = Project(samples.output :+ raReach, samples)
    val decReach = Add(reach.dec, lit(SlackDeg))
    val bandAttr = AttributeReference("graft_band", LongType, nullable = false)()
    val bands = generate(
      seq(band(Subtract(sDec, decReach), cellDeg),
        band(Add(sDec, decReach), cellDeg)),
      bandAttr, withReach)

    // nRa once per (sample, band), then one row per covered RA cell
    val nRaAlias = Alias(nRa(bandAttr, cellDeg), "graft_n_ra")()
    val withN = Project(withReach.output ++ Seq(bandAttr, nRaAlias), bands)
    val n = nRaAlias.toAttribute
    val lo = raCell(Subtract(sRa, raReach.toAttribute), n)
    val hi = Least(Seq(raCell(Add(sRa, raReach.toAttribute), n),
      Subtract(Add(lo, n), lit(1L))))
    val cellAttr = AttributeReference("graft_ra_cell", LongType, nullable = false)()
    val cells = generate(seq(lo, hi), cellAttr, withN)

    val key = Alias(pack(bandAttr, Pmod(cellAttr, n)), KeyName)()
    (Project(samples.output :+ key, cells), key.toAttribute)
  }

  private def lit(v: Any): Literal = Literal(v)

  private def band(dec: Expression, cellDeg: Double): Expression =
    Floor(Divide(dec, lit(cellDeg)))

  private def nRa(band: Expression, cellDeg: Double): Expression = {
    def edge(b: Expression) = Abs(Multiply(Cast(b, DoubleType), lit(cellDeg)))
    val poleward = Least(Seq(lit(90.0),
      Greatest(Seq(edge(band), edge(Add(band, lit(1L)))))))
    Greatest(Seq(lit(1L),
      Floor(Divide(Multiply(lit(360.0), Cos(ToRadians(poleward))), lit(cellDeg)))))
  }

  /** Unwrapped RA cell of `ra` in a band of `n` cells. */
  private def raCell(ra: Expression, n: Expression): Expression =
    Floor(Divide(Multiply(ra, Cast(n, DoubleType)), lit(360.0)))

  private def pack(band: Expression, raCell: Expression): Expression =
    Add(Multiply(band, lit(1L << 32)), raCell)
}
