package graft

import graft.domain.{SkyBounds, SphereSampler}
import graft.plans.ConeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ConeJoinSpec extends SparkSpec {

  /** Deterministic pseudo-catalog across the whole sphere. */
  private lazy val catalog: DataFrame =
    spark.range(20000).select(
      col("id").as("object_id"),
      ((col("id") * 7919) % 36000).cast("double").divide(100.0).as("ra"),
      (((col("id") * 104729) % 17000).cast("double") / 100.0 - 85.0).as("dec"))

  private lazy val samples: DataFrame = {
    // centers spread over the sphere incl. high-dec and RA-wraparound
    val rows = Seq(
      (0L, 1.0, 0.0, 3.0),      // RA wraparound at 0/360
      (1L, 359.5, 10.0, 2.0),   // wraparound other side
      (2L, 180.0, -80.0, 5.0),  // near south pole
      (3L, 90.0, 45.0, 1.0),
      (4L, 270.0, 80.0, 4.0))   // near north pole
    import spark.implicits._
    rows.toDF("sample_id", "ra", "dec", "radius_deg")
  }

  private def key(df: DataFrame): Set[(Long, Long)] =
    df.select(col("sample_id").cast("long"), col("object_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("band-join rewrite ≡ broadcast theta-join (several band widths)") {
    val reference = key(ConeJoin.broadcastJoin(catalog, samples))
    assert(reference.nonEmpty)
    for (band <- Seq(0.5, 1.0, 2.0, 7.0)) {
      val banded = key(ConeJoin.bandJoin(catalog, samples, band))
      assert(banded === reference, s"bandDeg=$band")
    }
  }

  test("band join matches per-pair brute force") {
    val got = key(ConeJoin.bandJoin(catalog, samples, 1.0))
    // brute force on the driver (20k × 5 pairs)
    val cat = catalog.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val smp = samples.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    def sepDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
      val h = math.pow(math.sin(math.toRadians(dec2 - dec1) / 2), 2) +
        math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
          math.pow(math.sin(math.toRadians(ra2 - ra1) / 2), 2)
      math.toDegrees(2 * math.asin(math.min(1.0, math.sqrt(h))))
    }
    val want = (for {
      (oid, cra, cdec) <- cat
      (sid, sra, sdec, rad) <- smp
      if sepDeg(cra, cdec, sra, sdec) <= rad
    } yield (sid, oid)).toSet
    assert(got === want)
  }

  test("quickstart aggregate preserves empty samples with n=0") {
    val bounds = SkyBounds(31, 38, -11, -4)
    val smp = SphereSampler.uniformCircles(spark, 50, bounds, 0.001, seed = 3)
    // catalog far away from the region → every cone is empty
    val far = spark.range(100).select(col("id").as("object_id"),
      lit(200.0).as("ra"), lit(50.0).as("dec"))
    val out = ConeJoin.quickstartAggregate(
      ConeJoin.broadcastJoin(far, smp), smp, minSepArcsec = 5.0)
    assert(out.count() === 50)
    assert(out.filter(col("n") === 0 && col("inv") === 0.0).count() === 50)
  }

  test("quickstart pipeline end-to-end is reproducible (golden invariants)") {
    val q = graft.operators.CosmapDomain.queries("q33_quickstart_pipeline")
    val out1 = q(spark, sf0001).orderBy("sample_id").collect()
    val out2 = q(spark, sf0001).orderBy("sample_id").collect()
    assert(out1.sameElements(out2))
    assert(out1.length === 1000)
  }

  /** Round-4 advice #1: the cone gates (q31/q33/q68) compare raw
    * transcendental separations against their boundaries in BOTH
    * engines (`sep <= radius` in the join, `sep*3600 > 5` in the
    * quickstart filter); Java-vs-libm trig divergence is ~1e-13
    * absolute, so a pair that close to a boundary could flip
    * membership in one engine only and change n, not just inv.
    * Quantizing the comparison would merely move the exposure to the
    * rounding boundary, so instead this probe PROVES the shipped data
    * keeps every pair orders of magnitude away from every boundary, at
    * all three gate scales — a data refresh that lands near a boundary
    * fails here loudly instead of failing the gate mysteriously. */
  test("cone gate boundary margins far above float noise (tri-scale)") {
    import graft.operators.CosmapDomain
    val scales = Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    for (dir <- scales) {
      // q33: pad the radius 2× so candidates on BOTH sides of the true
      // boundary are captured, then measure distance to each boundary
      val r = CosmapDomain.QuickstartRadiusDeg
      val smp = SphereSampler.uniformCircles(
          spark, 1000, CosmapDomain.QuickstartBounds, r, seed = 42L)
        .withColumn("radius_deg", col("radius_deg") * 2)
      val cand = ConeJoin.bandJoin(
        CosmapDomain.quickstartCatalog(spark, dir), smp, bandDeg = 0.25)
      val m33 = cand.agg(
        min(abs(col("sep_deg") - lit(r))).as("mJoin"),
        min(abs(col("sep_deg") * 3600.0 - 5.0)).as("mSep")).head
      assert(m33.getDouble(0) > 1e-9,
        s"$dir q33 join-boundary margin ${m33.getDouble(0)} too thin")
      assert(m33.getDouble(1) > 1e-7,
        s"$dir q33 min-sep filter margin ${m33.getDouble(1)} too thin (arcsec)")

      // q31/q68: same probe on the derived lattice geometry
      val padded = CosmapDomain.derivedSamplesFor(spark, dir)
        .withColumn("radius_deg", col("radius_deg") * 1.5)
      val m31 = ConeJoin.bandJoin(
          CosmapDomain.derivedCatalogFor(spark, dir), padded, bandDeg = 5.0)
        .agg(min(abs(col("sep_deg") - lit(19.97)))).head.getDouble(0)
      assert(m31 > 1e-9, s"$dir q31 join-boundary margin $m31 too thin")
    }
  }

  // ---- Rectangle samples (beyond the reference) --------------------

  private lazy val rectSamples: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, 1.0, 0.0, 6.0, 3.0),      // RA wraparound at 0/360
      (1L, 359.5, 10.0, 4.0, 2.0),   // wraparound other side
      (2L, 180.0, -80.0, 10.0, 5.0), // near south pole
      (3L, 90.0, 45.0, 2.0, 1.0),
      (4L, 270.0, 80.0, 8.0, 4.0))   // near north pole
      .toDF("sample_id", "ra", "dec", "width_deg", "height_deg")
  }

  test("rect band-join rewrite ≡ broadcast join ≡ per-row brute force") {
    import graft.plans.RectJoin
    val reference = key(RectJoin.broadcastJoin(catalog, rectSamples))
    assert(reference.nonEmpty)
    for (band <- Seq(0.5, 1.0, 2.0, 7.0)) {
      val banded = key(RectJoin.bandJoin(catalog, rectSamples, band))
      assert(banded === reference, s"bandDeg=$band")
    }
    // brute-force check of the membership definition
    val cat = catalog.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val smp = rectSamples.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    def raDelta(a: Double, b: Double): Double = {
      val d = math.abs(a - b) % 360.0
      math.min(d, 360.0 - d)
    }
    val want = (for {
      (oid, cra, cdec) <- cat
      (sid, sra, sdec, w, h) <- smp
      if math.abs(cdec - sdec) <= h / 2 &&
        raDelta(cra, sra) * math.cos(math.toRadians(sdec)) <= w / 2
    } yield (sid, oid)).toSet
    assert(reference === want)
  }

  test("rect sampler: every rectangle lies inside the region bounds") {
    val bounds = SkyBounds(31, 38, -11, -4)
    val w = 0.4; val h = 0.2
    val smp = SphereSampler.uniformRects(spark, 500, bounds, w, h, seed = 5)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(smp.length === 500)
    smp.foreach { case (ra, dec) =>
      assert(dec - h / 2 >= bounds.decMin && dec + h / 2 <= bounds.decMax, (ra, dec))
      // RA extent in coordinate degrees at the sample's dec
      val raExt = (w / 2) / math.cos(math.toRadians(dec))
      assert(ra - raExt >= bounds.raMin && ra + raExt <= bounds.raMax, (ra, dec))
    }
    // 2′ circles near the north pole: the frame either refuses the
    // region or keeps every circle's true RA extent asin(sin r / cos dec)
    // inside it (a pad clamped at 89.9° let circles at the top edge
    // cross by tens of degrees)
    val polar = SkyBounds(0, 60, 89, 89.99)
    val r = 2.0 / 60.0
    val circles =
      try Some(SphereSampler.uniformCircles(spark, 2000, polar, r, seed = 1)
        .collect().map(c => (c.getDouble(1), c.getDouble(2))))
      catch { case e: IllegalArgumentException if e.getMessage.contains("too small") => None }
    circles.foreach { cs =>
      assert(cs.length === 2000)
      cs.foreach { case (ra, dec) =>
        assert(dec - r >= polar.decMin && dec + r <= polar.decMax, (ra, dec))
        val s = math.sin(math.toRadians(r)) / math.cos(math.toRadians(dec))
        val raExt = if (s >= 1) 180.0 else math.toDegrees(math.asin(s))
        assert(ra - raExt >= polar.raMin && ra + raExt <= polar.raMax, (ra, dec))
      }
    }
  }

  // ---- Sky-cell cover edge cases (cones and rectangles) -------------

  private def sepDegBF(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val h = math.pow(math.sin(math.toRadians(dec2 - dec1) / 2), 2) +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
        math.pow(math.sin(math.toRadians(ra2 - ra1) / 2), 2)
    math.toDegrees(2 * math.asin(math.min(1.0, math.sqrt(h))))
  }

  private def raDeltaBF(a: Double, b: Double): Double = {
    val d = math.abs(a - b) % 360.0
    math.min(d, 360.0 - d)
  }

  /** RA cells in the band holding `dec`, by the [[graft.plans.SkyCells]]
    * rule (poleward edge, clamped to 90°). */
  private def nRaBF(dec: Double, cell: Double): Long = {
    val b = math.floor(dec / cell)
    val edge = math.min(90.0, math.max(math.abs(b * cell), math.abs((b + 1) * cell)))
    math.max(1L, math.floor(360.0 * math.cos(math.toRadians(edge)) / cell).toLong)
  }

  /** A seeded catalog around each centre: scattered objects within
    * `spread` on the sky (every RA once near a pole), plus objects on
    * the `cell` lattice (band edges × RA cell edges) near the centre. */
  private def patches(centres: Seq[(Double, Double)], spread: Double,
                      cell: Double): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    def wrap(ra: Double) = ((ra % 360.0) + 360.0) % 360.0
    def clampDec(d: Double) = math.max(-90.0, math.min(90.0, d))
    val pts = centres.flatMap { case (ra, dec) =>
      val raSpan =
        if (math.abs(dec) + spread >= 89.0) 180.0
        else spread / math.cos(math.toRadians(math.abs(dec) + spread))
      val scattered = Seq.fill(400)((
        wrap(ra + (rng.nextDouble() * 2 - 1) * raSpan),
        clampDec(dec + (rng.nextDouble() * 2 - 1) * spread)))
      val lattice = for {
        m <- (math.floor((dec - spread) / cell).toLong to
          math.ceil((dec + spread) / cell).toLong).take(40)
        d = clampDec(m * cell)
        n = nRaBF(d, cell)
        k <- (math.floor((ra - raSpan) * n / 360.0).toLong to
          math.ceil((ra + raSpan) * n / 360.0).toLong).take(40)
      } yield (wrap(k * 360.0 / n), d)
      scattered ++ lattice
    }
    pts.zipWithIndex.map { case ((ra, dec), i) => (i.toLong, ra, dec) }
      .toDF("object_id", "ra", "dec")
  }

  private def objects(cat: DataFrame): Seq[(Long, Double, Double)] =
    cat.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  /** Cone and rectangle cell joins at each cell side ≡ driver-side
    * brute force over the same rows; every case must have pairs. */
  private def assertCoverExact(centres: Seq[(Double, Double)], radius: Double,
                               width: Double, height: Double,
                               cells: Seq[Double]): Unit = {
    import graft.plans.RectJoin
    import spark.implicits._
    val cat = patches(centres, 2 * math.max(radius, height), cells.min)
    val objs = objects(cat)
    val cones = centres.zipWithIndex.map { case ((ra, dec), i) =>
      (i.toLong, ra, dec, radius) }
    val rects = centres.zipWithIndex.map { case ((ra, dec), i) =>
      (i.toLong, ra, dec, width, height) }
    val wantCone = (for {
      (oid, ra, dec) <- objs
      (sid, sra, sdec, r) <- cones
      if sepDegBF(ra, dec, sra, sdec) <= r
    } yield (sid, oid)).toSet
    val wantRect = (for {
      (oid, ra, dec) <- objs
      (sid, sra, sdec, w, h) <- rects
      if math.abs(dec - sdec) <= h / 2 &&
        raDeltaBF(ra, sra) * math.cos(math.toRadians(sdec)) <= w / 2
    } yield (sid, oid)).toSet
    assert(cones.forall(c => wantCone.exists(_._1 == c._1)), "a cone is empty")
    assert(rects.forall(c => wantRect.exists(_._1 == c._1)), "a rectangle is empty")
    val coneDf = cones.toDF("sample_id", "ra", "dec", "radius_deg")
    val rectDf = rects.toDF("sample_id", "ra", "dec", "width_deg", "height_deg")
    for (cell <- cells) {
      assert(key(ConeJoin.bandJoin(cat, coneDf, cell)) === wantCone, s"cone cell=$cell")
      assert(key(RectJoin.bandJoin(cat, rectDf, cell)) === wantRect, s"rect cell=$cell")
    }
  }

  test("sky cells narrower than the radius (0.01°, 0.05°) ≡ brute force") {
    assertCoverExact(
      Seq((10.0, 0.0), (123.4, -37.2), (250.0, 61.5), (0.02, 5.0), (359.97, -5.0)),
      radius = 0.08, width = 0.2, height = 0.12, cells = Seq(0.01, 0.05))
  }

  test("sample centres exactly on sky-cell corners ≡ brute force") {
    for (cell <- Seq(0.1, 0.05)) {
      val corners = Seq((3L, 41L), (-120L, 7L), (700L, 2L), (0L, 0L), (-1L, 100L))
        .map { case (m, k) =>
          val dec = m * cell
          (k * 360.0 / nRaBF(dec, cell), dec)
        }
      assertCoverExact(corners, radius = 0.0337, width = 0.061, height = 0.043,
        cells = Seq(cell, 3 * 0.0337))
    }
  }

  test("sample centres on the RA 0/360 seam ≡ brute force") {
    assertCoverExact(
      Seq((0.0, 0.0), (360.0, 12.5), (1e-12, -30.0), (359.9999999999, 45.0),
        (0.0, -70.0)),
      radius = 0.0337, width = 0.061, height = 0.043,
      cells = Seq(0.1, 0.05, 0.01))
  }

  test("sample centres at |dec| ≥ 89.9° (one RA cell per band) ≡ brute force") {
    val centres = Seq((10.0, 89.9), (200.0, 89.95), (300.0, 89.99), (0.0, 90.0),
      (45.0, -89.9), (135.0, -89.97), (0.0, -90.0))
    assertCoverExact(centres, radius = 0.0337, width = 0.061, height = 0.043,
      cells = Seq(0.1, 0.01))
    // at the 0.1° default, the bands above 89.9° hold a single RA cell
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val polar = patches(centres, 0.07, 0.1)
      .withColumn(graft.plans.SkyCells.KeyName, toColumn(graft.plans.SkyCells
        .objectKey(toExpression(col("ra")), toExpression(col("dec")), 0.1)))
      .filter(abs(col("dec")) >= 89.91)
      .select(pmod(col(graft.plans.SkyCells.KeyName), lit(1L << 32)).as("ra_cell"))
      .distinct().collect().map(_.getLong(0))
    assert(polar.toSeq === Seq(0L))
  }
}
