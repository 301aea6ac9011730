package perfbench

import graft.domain.{SkyBounds, SphereSampler}
import graft.output.Sinks
import graft.pipeline.{AnalysisRunner, Transform, TransformRegistry}
import graft.plans.ConeJoin
import graft.sources.ParquetCatalogSource
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** The paper's loop, driven through the engine's public API: the
  * sampler draws `samplesPerOp` circles of 2′ inside the README
  * quickstart rectangle, `AnalysisRunner` cone-joins them (band plan)
  * against a seeded catalog and runs the quickstart DAG
  * (`compute_distances` → `compute_result`, min 5″), and `Sinks.write`
  * appends one CSV row per sample.
  *
  * The catalog is generated from the seed during set-up, uniform on the
  * sphere inside the same rectangle, and written to Parquet; the engine
  * only ever sees that file and the run configuration. */
final class Cone(catalogRows: Long, val samplesPerOp: Long) extends Workload {
  import Cone._

  private var seed = 0L
  private var dir = ""
  private var catalog: DataFrame = _
  private var reference: Option[Digest] = None

  private def catalogPath = s"$dir/catalog.parquet"

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.seed = seed
    this.dir = dir
    writeCatalog(spark, catalogRows, seed, catalogPath)
    catalog = ParquetCatalogSource.load(spark, catalogPath, Seq("object_id", "ra", "dec"))
    // the warm-up op also records this seed's digest: every set-up
    // repetition and every timed op must reproduce it
    val out = s"$dir/out/warmup"
    val digest = runOp(spark, catalog, samplesPerOp, seed, out)._1()
    deleteTree(new File(out))
    reference match {
      case Some(r) if r != digest =>
        throw new IllegalStateException(s"set-up digest $digest differs from $r")
      case _ => reference = Some(digest)
    }
  }

  def op(spark: SparkSession, opId: Int): () => Option[String] = {
    val out = s"$dir/out/op-$opId"
    val (digest, rowsWritten) = runOp(spark, catalog, samplesPerOp, seed, out)
    () => {
      val got = digest()
      val lines = rowsWritten()
      deleteTree(new File(out))
      if (lines != samplesPerOp) Some(s"op $opId wrote $lines CSV rows, expected $samplesPerOp")
      else if (got.rows != samplesPerOp) Some(s"op $opId emitted ${got.rows} rows, expected $samplesPerOp")
      else if (!reference.contains(got)) Some(s"op $opId digest $got differs from ${reference.get}")
      else None
    }
  }

  def finalChecks(spark: SparkSession): Seq[String] = thetaParity(spark, seed, dir).toSeq

  def layers(spark: SparkSession, timed: (String, () => Unit) => Ledger.Window): Seq[(String, Double)] = {
    val passes = (1 to LayerPasses).map(_ => layerPass(spark, timed))
    passes.head.indices.map(i => passes.head(i)._1 -> Main.median(passes.map(_(i)._2)))
  }

  /** Materialise each layer's public output in turn; a layer's self time
    * is its prefix's time minus the prefixes it consumes. */
  private def layerPass(spark: SparkSession,
                        timed: (String, () => Unit) => Ledger.Window): Seq[(String, Double)] = {
    val samples = SphereSampler.uniformCircles(spark, samplesPerOp, Quickstart, RadiusDeg, seed)
    val dom = timed("domain", () => noop(samples))
    val src = timed("sources", () => noop(catalog))
    val pairs = Observation()
    // the pairs as the DAG consumes them: a sample id and a separation
    val joined = ConeJoin.bandJoin(catalog, samples).select("sample_id", "sep_deg")
      .observe(pairs, count(lit(1)).as("n"))
    val join = timed("plans", () => noop(joined))
    val result = analysis(spark, catalog, samplesPerOp, seed)
    val pipe = timed("pipeline", () => noop(result))
    // the sink's own time, measured over a cached result
    result.cache()
    noop(result)
    val out = s"$dir/out/layers"
    val sink = timed("output", () => Sinks.write(result, out, "csv"))
    result.unpersist(blocking = true)
    val files = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.startsWith("part-"))
    deleteTree(new File(out))

    val nPairs = pairs.get("n").asInstanceOf[Long]
    val planCpu = join.taskCpuSeconds - dom.taskCpuSeconds - src.taskCpuSeconds
    Seq(
      "domain.self_s" -> dom.seconds,
      "sources.self_s" -> src.seconds,
      "sources.rows" -> catalogRows.toDouble,
      "sources.tasks" -> src.tasks.size.toDouble,
      "plans.self_s" -> (join.seconds - dom.seconds - src.seconds),
      "plans.pairs" -> nPairs.toDouble,
      "plans.task_cpu_s" -> planCpu,
      "plans.cpu_us_per_pair" -> planCpu / math.max(nPairs, 1L) * 1e6,
      "pipeline.self_s" -> (pipe.seconds - join.seconds),
      "pipeline.shuffle_write_mb" -> (pipe.shuffleWriteMb - join.shuffleWriteMb),
      "output.self_s" -> sink.seconds,
      "output.bytes_written" -> sink.outputBytes.toDouble,
      "output.files" -> files.toDouble)
  }
}

object Cone {
  /** The README quickstart's rectangle and circle. */
  val Quickstart: SkyBounds = SkyBounds(raMin = 31.0, raMax = 38.0, decMin = -11.0, decMax = -4.0)
  val RadiusDeg: Double = 2.0 / 60.0
  /** Layer prefixes are materialised this many times; medians are kept. */
  val LayerPasses = 3

  final case class Digest(rows: Long, n: Long, inv: java.math.BigDecimal)

  private def runConfig(nSamples: Long, seed: Long): String =
    s"""{
       |  "base-analysis": "quickstart",
       |  "sampling_parameters": {
       |    "region_type": "Rectangle",
       |    "region_bounds": {"value": [31.0, -11.0, 38, -4], "units": "degree"},
       |    "sample_type": "Random",
       |    "n_samples": $nSamples,
       |    "seed": $seed
       |  },
       |  "radius": {"value": 2, "units": "arcmin"},
       |  "min_radius": {"value": 5, "units": "arcsec"}
       |}""".stripMargin

  private val analysisDefaults =
    """{
      |  "sampling_parameters": {"sample_shape": "Circle", "sample_dimensions": "@Main.radius"},
      |  "output_parameters": {"output_formats": "dataframe", "write_format": "csv"}
      |}""".stripMargin

  private val transformations =
    """{
      |  "Main": {
      |    "compute_distances": {"needed-data": ["catalog"]},
      |    "compute_result": {
      |      "dependencies": {"compute_distances": "catalog"},
      |      "needed-data": ["samples"],
      |      "needed-parameters": ["Main.min_radius"],
      |      "is-output": true
      |    }
      |  }
      |}""".stripMargin

  /** The quickstart's two user transforms, as a user registers them. */
  private val registry = TransformRegistry(
    "compute_distances" -> Transform { args =>
      args("catalog").asInstanceOf[DataFrame]
        .withColumn("distances_arcsec", col("sep_deg") * 3600.0)
    },
    "compute_result" -> Transform { args =>
      val catalog = args("catalog").asInstanceOf[DataFrame]
      val samples = args("samples").asInstanceOf[DataFrame]
      val minRadiusArcsec =
        graft.config.ConfigTree.parseQuantityDeg(args("min_radius")) * 3600.0
      val agg = catalog
        .filter(col("distances_arcsec") > minRadiusArcsec)
        .groupBy(col("sample_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("distances_arcsec"), 3).cast("decimal(28,3)")).cast("double").as("inv"))
      samples.select(col("sample_id"), col("ra"), col("dec"))
        .join(agg, Seq("sample_id"), "left")
        .select(col("sample_id"), col("ra"), col("dec"),
          coalesce(col("n"), lit(0L)).as("n"), coalesce(col("inv"), lit(0.0)).as("inv"))
    })

  def analysis(spark: SparkSession, catalog: DataFrame, nSamples: Long, seed: Long,
               useBandJoin: Boolean = true): DataFrame =
    AnalysisRunner.run(spark, runConfig(nSamples, seed), analysisDefaults,
      transformations, registry, catalog, useBandJoin = useBandJoin)

  /** Objects uniform by area inside the quickstart rectangle. `rand` is
    * seeded per partition, so the partition count is fixed. */
  def writeCatalog(spark: SparkSession, rows: Long, seed: Long, path: String): Unit = {
    val zLo = math.sin(math.toRadians(Quickstart.decMin))
    val zHi = math.sin(math.toRadians(Quickstart.decMax))
    spark.range(0, rows, 1, 4).select(
      col("id").as("object_id"),
      (lit(Quickstart.raMin) + rand(seed) * (Quickstart.raMax - Quickstart.raMin)).as("ra"),
      degrees(asin(lit(zLo) + rand(seed + 1) * (zHi - zLo))).as("dec"))
      .write.mode("overwrite").parquet(path)
  }

  /** One op: the analysis written to a CSV sink. Returns thunks that,
    * after the op is timed, read its digest and count its CSV rows. */
  private def runOp(spark: SparkSession, catalog: DataFrame, nSamples: Long, seed: Long,
                    out: String): (() => Digest, () => Long) = {
    val obs = Observation()
    val result = analysis(spark, catalog, nSamples, seed).observe(obs,
      count(lit(1)).as("rows"), sum(col("n")).as("n"),
      sum(col("inv").cast("decimal(38,3)")).as("inv"))
    Sinks.write(result, out, "csv")
    val digest = () => {
      val m = obs.get
      Digest(m("rows").asInstanceOf[Long], m("n").asInstanceOf[Long],
        m("inv").asInstanceOf[java.math.BigDecimal])
    }
    (digest, () => csvRows(new File(out)))
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Data rows across a CSV sink's part files: newlines, less one header
    * line per non-empty file. Counted over raw bytes, as a 2M-row sink
    * is ~100 MB and this runs after every op. */
  def csvRows(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map { f =>
        val in = new java.io.FileInputStream(f)
        val buf = new Array[Byte](1 << 20)
        var lines = 0L
        try {
          var n = in.read(buf)
          while (n > 0) {
            var i = 0
            while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
            n = in.read(buf)
          }
        } finally in.close()
        math.max(lines - 1, 0L)
      }.sum

  /** On a reduced instance from the same generator, the band-join loop
    * must emit exactly the rows of the broadcast theta plan. */
  def thetaParity(spark: SparkSession, seed: Long, dir: String): Option[String] = {
    val path = s"$dir/parity-catalog.parquet"
    writeCatalog(spark, 20000, seed, path)
    val cat = ParquetCatalogSource.load(spark, path, Seq("object_id", "ra", "dec"))
    def rows(band: Boolean) =
      analysis(spark, cat, 2000, seed, useBandJoin = band).orderBy("sample_id").collect().toSeq
    val band = rows(band = true)
    val theta = rows(band = false)
    deleteTree(new File(path))
    if (band.size != 2000 || band != theta)
      Some(s"band-join loop differs from the theta plan on the reduced instance " +
        s"(${band.size} vs ${theta.size} rows)")
    else if (band.map(_.getAs[Long]("n")).sum == 0)
      Some("the reduced instance found no pairs, so it tests nothing")
    else None
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
