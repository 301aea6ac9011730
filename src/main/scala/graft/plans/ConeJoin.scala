package graft.plans

import graft.functions.{ConeContainsFn, Sphere}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The spatial cone join: every (sample, object) pair with
  * angularSep(sample center, object) ≤ sample radius.
  *
  * This is the reference's single join — a theta-join executed there
  * as a per-sample spatial-index probe loop
  * (/root/reference/src/cosmap/dataset/opencosmo.py:38-54 driven by
  * /root/reference/src/cosmap/analysis/task.py:149-154). Re-expressed
  * here as the declarative `cone_contains` join (the
  * [[graft.functions.ConeContains]] predicate over the one membership
  * kernel), planned two ways (SURVEY.md §2.3):
  *
  *  - [[broadcastJoin]]: catalog ⋈ broadcast(samples) under the raw
  *    theta predicate — a nested-loop join, the reference plan the
  *    cell join is checked against (in a session without
  *    `GraftExtensions`; with it, the rule turns this join into the
  *    cell join too).
  *
  *  - [[bandJoin]]: the same join handed to [[ConeJoinRewrite]], the
  *    one construction of the sky-cell equi-join of [[SkyCells]] (the
  *    generalization of the reference's RA/Dec bbox prefilter,
  *    opencosmo.py:42-50, with its RA-shrink sign bug at line 48
  *    fixed): each sample is exploded to every (dec band, RA cell) its
  *    circle's reach covers, wrapped at RA 0/360 and taking every cell
  *    of a band near a pole; each object gets its own cell; the join
  *    runs as a hash equi-join on one `long` key with the cheap dec-box
  *    conjuncts first and `cone_contains` as the exact residual. The
  *    cell side is `bandDeg`; 3 × the radius keeps a sample to 1–2
  *    cells per axis (the 0.1° default is that rule at the paper's 2′
  *    radius). The rewrite is applied directly, so it needs no session
  *    extension. Broadcast while the samples are small, a keyed
  *    partial shuffle when both sides are large — never a cross
  *    product.
  *
  * Contract: `catalog` has columns `ra`, `dec` (degrees); `samples`
  * has `sample_id`, `ra`, `dec`, `radius_deg`. Output: catalog columns
  * + `sample_id`, `s_ra`, `s_dec`, `radius_deg`, `sep_deg` (by the
  * same haversine kernel).
  */
object ConeJoin {

  private def prepSamples(samples: DataFrame): DataFrame =
    samples.select(col("sample_id"), col("ra").as("s_ra"),
      col("dec").as("s_dec"), col("radius_deg"))

  private val contains: Column = ConeContainsFn.coneContains(
    col("ra"), col("dec"), col("s_ra"), col("s_dec"), col("radius_deg"))

  private val sep: Column =
    Sphere.angularSepDeg(col("ra"), col("dec"), col("s_ra"), col("s_dec"))

  def broadcastJoin(catalog: DataFrame, samples: DataFrame): DataFrame =
    catalog.join(broadcast(prepSamples(samples)), contains)
      .withColumn("sep_deg", sep)

  def bandJoin(catalog: DataFrame, samples: DataFrame,
               bandDeg: Double = SkyCells.DefaultCellDeg): DataFrame =
    ConeJoinRewrite.cellJoin(catalog.join(prepSamples(samples), contains), bandDeg)
      .withColumn("sep_deg", sep)

  /** The reference quickstart's per-sample reduction
    * (/root/reference/README.md:55-174): drop objects closer than
    * `minSepArcsec`, then per sample emit (ra, dec, n, inv) where n is
    * the surviving-object count and inv the summed separations in
    * arcsec. Samples whose cone is empty still emit a row (n=0) —
    * matching the reference, where every sample returns a result dict.
    * Sum is decimal-accumulated: exact and partition-order-free. */
  def quickstartAggregate(joined: DataFrame, samples: DataFrame,
                          minSepArcsec: Double): DataFrame = {
    val agg = joined
      .filter(col("sep_deg") * 3600.0 > minSepArcsec)
      .groupBy(col("sample_id"))
      .agg(count(lit(1)).as("n"),
        // summand quantized to milli-arcsec before the exact decimal
        // sum: each per-pair separation is transcendental, so Java vs
        // libm divergence is ~1e-13 absolute — against a 1e-6 decimal
        // quantum a sum over 1e4+ pairs hits a rounding boundary with
        // near-certainty (observed at sf0.01), against 1e-3 the rate
        // is ~1e-10/pair; milli-arcsec is far below physical meaning
        // in the reference's regime
        sum(round(col("sep_deg") * 3600.0, 3).cast("decimal(28,3)"))
          .cast("double").as("inv"))
    prepSamples(samples)
      .join(agg, Seq("sample_id"), "left")
      .select(col("sample_id"), col("s_ra").as("ra"), col("s_dec").as("dec"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("inv"), lit(0.0)).as("inv"))
  }
}
