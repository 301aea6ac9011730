package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** The traced run's Spark listener: it records every job and task, and
  * attributes each job to the engine module that issued it.
  *
  * Attribution goes job → SQL execution (the job's
  * `spark.sql.execution.id` property) → that execution's call site →
  * the first `graft.` frame. A stage's own call site is not enough:
  * adaptive query execution submits most stages from a pool thread, so
  * their stack shows a `CompletableFuture` frame, not the query. Jobs
  * outside any SQL execution (RDD actions such as `localCheckpoint`)
  * fall back to their first stage's call site.
  *
  * Events arrive on Spark's listener thread; read summaries only after
  * `PerfbenchBus.drain`. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execSite(e.executionId) = e.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = execId.flatMap(execSite.get)
      .orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.details))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, moduleOf(site), e.stageIds.size)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += TaskRec(
      job = stageJob.getOrElse(e.stageId, -1),
      launch = e.taskInfo.launchTime,
      finish = e.taskInfo.finishTime,
      cpuS = m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
      gcS = m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
      shuffleWriteB = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillB = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      outputB = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      failed = !e.taskInfo.successful)
  }

  /** Everything that ran in jobs started inside [t0, t1] (epoch ms). */
  def window(t0: Long, t1: Long): Window = synchronized {
    val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toVector
    val ids = js.map(_.id).toSet
    Window(t0, t1, js, tasks.filter(t => ids(t.job)).toVector)
  }
}

object Ledger {
  final case class JobRec(id: Int, start: Long, module: String, stages: Int) {
    var end: Long = start
  }

  final case class TaskRec(job: Int, launch: Long, finish: Long, cpuS: Double,
                           gcS: Double, shuffleWriteB: Long, spillB: Long,
                           outputB: Long, failed: Boolean) {
    def seconds: Double = (finish - launch) / 1e3
  }

  /** The engine module named by the first `graft.` frame of a call
    * site: `graft.dedup.X` → `dedup`, `graft.Tables$` → `Tables`. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) =>
        val parts = frame.takeWhile(_ != '(').split('.')
        // parts: graft, <module or class>, ..., <method>
        if (parts.length > 3) parts(1) else parts(1).stripSuffix("$")
      case None => "none"
    }

  final case class Window(t0: Long, t1: Long, jobs: Vector[JobRec],
                          tasks: Vector[TaskRec]) {
    private val mb = 1024.0 * 1024.0
    def seconds: Double = (t1 - t0) / 1e3
    def stages: Int = jobs.map(_.stages).sum
    def taskSeconds: Double = tasks.map(_.seconds).sum
    def taskCpuSeconds: Double = tasks.map(_.cpuS).sum
    def shuffleWriteMb: Double = tasks.map(_.shuffleWriteB).sum / mb
    def spillMb: Double = tasks.map(_.spillB).sum / mb
    def outputBytes: Long = tasks.map(_.outputB).sum
    def gcSeconds: Double = tasks.map(_.gcS).sum

    /** Wall time inside the window during which no task was running. */
    def noTaskSeconds: Double = {
      val spans = tasks.map(t => (math.max(t.launch, t0), math.min(t.finish, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      spans.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (t1 - t0 - covered) / 1e3
    }

    def maxJobsInFlight: Int = {
      val edges = jobs.flatMap(j => Seq((j.start, 1), (j.end, -1)))
        .sortBy { case (t, d) => (t, d) } // an end at t frees its slot first
      edges.scanLeft(0)(_ + _._2).max
    }

    def byModule: Map[String, (Int, Double)] =
      jobs.groupBy(_.module).map { case (m, js) =>
        val ids = js.map(_.id).toSet
        m -> (js.size, tasks.filter(t => ids(t.job)).map(_.seconds).sum)
      }
  }
}
