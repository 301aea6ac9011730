package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark workload: a closed loop in which one driver thread
  * issues one op at a time. */
trait Workload {
  /** Work units (samples) one op processes. */
  def samplesPerOp: Long

  /** Generate this seed's inputs under `dir`, load them and run one
    * warm-up op. Called once per set-up repetition, each on a fresh
    * session. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit

  /** Run one op (this is the timed part) and return its output check,
    * which is run untimed and yields a failure message, if any. */
  def op(spark: SparkSession, opId: Int): () => Option[String]

  /** Checks made once per run, after the timed ops. */
  def finalChecks(spark: SparkSession): Seq[String]

  /** Per-layer metrics of the traced run. `timed(name, body)` runs
    * `body` as one span and returns what Spark did inside it. */
  def layers(spark: SparkSession, timed: (String, () => Unit) => Ledger.Window): Seq[(String, Double)]
}

/** Benchmark program: `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>`.
  *
  * Set-up (session start, input generation, warm-up op) is repeated
  * `SetupReps` times and its median reported as `setup_s`. Ops are then
  * timed back to back until `seconds` have passed. With tracing off the
  * result holds the end-to-end metrics. With tracing on, every other op
  * runs under the [[Ledger]] listener, so the run reports its own tracing
  * overhead, and then each layer's output is materialised in turn. */
object Main {
  val Cores = 4
  val SetupReps = 3

  val workloads: Map[String, () => Workload] = Map(
    "cone-dense" -> (() => new Cone(catalogRows = 2000000L, samplesPerOp = 1000L)),
    "cone-sparse" -> (() => new Cone(catalogRows = 500L, samplesPerOp = 1000000L)))

  final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, end: Long)

  private def session(dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, dir, resultPath) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val workload = workloads.getOrElse(name,
      sys.error(s"unknown workload '$name'; known: ${workloads.keys.mkString(", ")}"))()

    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0
    def newSpanId(): Int = { nextSpan += 1; nextSpan }
    def record(name: String, parent: Int, op: Int, t0: Long, t1: Long, id: Int = newSpanId()): Int = {
      spans += Span(id, parent, name, op, t0, t1)
      id
    }
    def span(name: String, parent: Int, op: Int, id: Int = newSpanId())(body: => Unit): (Int, Long, Long) = {
      val t0 = System.currentTimeMillis()
      body
      val t1 = System.currentTimeMillis()
      (record(name, parent, op, t0, t1, id), t0, t1)
    }

    // ---- set-up, repeated; the last repetition's session is kept
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(dir)
      workload.setup(spark, seed, dir)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $rep: $s%.3f s")
      s
    }

    // ---- timed ops
    final case class OpTime(wall: Double, cpu: Double, traced: Boolean)
    val ledger = new Ledger
    val times = mutable.ArrayBuffer.empty[OpTime]
    val failures = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    val opWindows = mutable.ArrayBuffer.empty[Ledger.Window]
    heapPools.foreach(_.resetPeakUsage())
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var attempted = 0
    while (attempted == 0 || elapsed < seconds) {
      // traced and untraced ops alternate, so both halves see the same
      // warm-up state and the difference is the tracing overhead
      val traced = trace && attempted % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(ledger)
      attempted += 1
      val opId = attempted
      val cpu0 = cpuBean.getProcessCpuTime
      val w0 = System.nanoTime()
      var check: () => Option[String] = () => None
      val (spanId, t0, t1) = span("op", 0, opId) {
        try check = workload.op(spark, opId)
        catch { case e: Throwable => check = () => Some(s"op $opId threw: $e") }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      times += OpTime(wall, cpu, traced)
      System.err.println(f"[perfbench] op $opId: $wall%.3f s wall, $cpu%.3f s cpu")
      check().foreach { f => failures += f; failedOps += 1 }
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger)
        val w = ledger.window(t0, t1)
        opWindows += w
        w.jobs.foreach(j => record(s"job ${j.id} (${j.module})", spanId, opId, j.start, j.end))
      }
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val loopSeconds = elapsed

    // ---- once-per-run output checks
    try workload.finalChecks(spark).foreach(failures += _)
    catch { case e: Throwable => failures += s"final check threw: $e" }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val wall = times.map(_.wall).toSeq
        Seq(
          ("setup_s", median(setupTimes), "s"),
          ("op_s.p50", median(wall), "s"),
          ("op_cpu_s.p50", median(times.map(_.cpu).toSeq), "s"),
          ("samples_per_s", workload.samplesPerOp / median(wall), "1/s"))
      } else {
        spark.sparkContext.addSparkListener(ledger)
        val layersId = newSpanId()
        val timedLayer = (layer: String, body: () => Unit) => {
          val (_, t0, t1) = span(layer, layersId, 0)(body())
          PerfbenchBus.drain(spark.sparkContext)
          ledger.window(t0, t1)
        }
        var layerMetrics = Seq.empty[(String, Double)]
        span("layers", 0, 0, layersId) { layerMetrics = workload.layers(spark, timedLayer) }
        def per(f: Ledger.Window => Double) = median(opWindows.map(f).toSeq)
        val untracedWall = times.filterNot(_.traced).map(_.wall).toSeq
        val tracedWall = times.filter(_.traced).map(_.wall).toSeq
        val modules = Seq("plans", "pipeline", "output")
        val units = Map("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
          "max_jobs_in_flight" -> "count", "task_failures" -> "count", "rows" -> "count",
          "pairs" -> "count", "files" -> "count", "bytes_written" -> "bytes",
          "busy_frac" -> "fraction", "cpu_us_per_pair" -> "us")
        def unitOf(metric: String) = units.getOrElse(metric.split('.').last,
          if (metric.endsWith("_mb")) "MB" else "s")
        (layerMetrics ++ Seq(
          "spark.jobs" -> per(_.jobs.size),
          "spark.stages" -> per(_.stages),
          "spark.tasks" -> per(_.tasks.size),
          "spark.busy_frac" -> per(w => w.taskSeconds / (Cores * w.seconds)),
          "spark.no_task_s" -> per(_.noTaskSeconds),
          "spark.max_jobs_in_flight" -> per(_.maxJobsInFlight),
          "spark.shuffle_write_mb" -> per(_.shuffleWriteMb),
          "spark.spill_mb" -> per(_.spillMb),
          "spark.gc_s" -> per(_.gcSeconds),
          "spark.task_failures" -> per(_.tasks.count(_.failed)),
          "trace.overhead_s" -> (median(tracedWall) - median(untracedWall)),
          "jvm.heap_peak_mb" -> heapPeakMb) ++
          modules.flatMap { m =>
            Seq(s"$m.jobs" -> per(_.byModule.get(m).map(_._1.toDouble).getOrElse(0.0)),
              s"$m.task_s" -> per(_.byModule.get(m).map(_._2).getOrElse(0.0)))
          })
          .map { case (k, v) => (k, v, unitOf(k)) }
      }
    spark.stop()

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = new StringBuilder
    json ++= s"""{"workload": ${str(name)}, "seed": $seed, "trace": $trace, """
    json ++= s""""attempted": $attempted, "failed": $failedOps, """
    json ++= s""""failures": [${failures.map(str).mkString(", ")}], """
    json ++= s""""loop_s": ${num(loopSeconds)}, "setup_runs_s": [${setupTimes.map(num).mkString(", ")}], """
    json ++= s""""op_s": [${times.map(t => num(t.wall)).mkString(", ")}], """
    json ++= s""""op_cpu_s": [${times.map(t => num(t.cpu)).mkString(", ")}], """
    json ++= s""""op_traced": [${times.map(_.traced).mkString(", ")}], "metrics": {"""
    json ++= metrics.map { case (k, v, u) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString(", ")
    json ++= "}}"
    val w = new PrintWriter(new File(resultPath), "UTF-8")
    try w.println(json.toString) finally w.close()
    if (trace) {
      val sw = new PrintWriter(new File(resultPath.stripSuffix(".json") + ".spans.json"), "UTF-8")
      try sw.println(spans.map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, "op": ${s.op}, "start_ms": ${s.start}, "end_ms": ${s.end}}"""
      }.mkString("[\n", ",\n", "\n]")) finally sw.close()
    }
  }
}
