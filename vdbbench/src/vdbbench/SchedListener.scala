package vdbbench

import scala.collection.mutable

import org.apache.spark.{BenchListenerBus, SparkContext}
import org.apache.spark.scheduler._

/** Scheduler counters for one operation, read from outside the engine.
  *
  * Follows `graft.tools.JobProfile`: a plain SparkListener that records
  * job start/end times and per-stage task metrics. Counters are summed
  * over a window (`measure`) instead of attributed to single jobs, so a
  * stage shared by several jobs (a reused exchange) is counted once,
  * when it completes; skipped stages never complete and add nothing.
  * Caveat kept from JobProfile: a resubmitted stage completes twice and
  * double-counts its tasks and run time.
  *
  * `driverGapS` is the window's wall time that no running job covers:
  * planning, analysis, driver-side collection and file listing. */
final class SchedListener(sc: SparkContext) extends SparkListener {

  final case class Window(wallS: Double, jobs: Int, tasks: Long,
      execRunS: Double, shuffleWriteMb: Double, driverGapS: Double, cores: Int) {
    def coreBusyFrac: Double = if (wallS <= 0) 0.0 else execRunS / (wallS * cores)
  }

  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tasks = 0L
  private var execRunMs = 0L
  private var shuffleWriteBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    tasks += si.numTasks
    Option(si.taskMetrics).foreach { m =>
      execRunMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  private def snapshot() = synchronized((jobSpans.length, tasks, execRunMs, shuffleWriteBytes))

  /** Run `body` and report the scheduler work it caused. */
  def measure[T](body: => T): (T, Window) = {
    BenchListenerBus.drain(sc)
    val (j0, t0, r0, w0) = snapshot()
    val start = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - n0) / 1e9
    val end = System.currentTimeMillis()
    BenchListenerBus.drain(sc)
    val (j1, t1, r1, w1) = snapshot()
    val spans = synchronized(jobSpans.slice(j0, j1).toSeq)
    // union of the jobs' intervals, clipped to the window
    var covered = 0L
    var reach = start
    spans.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
    val gapS = math.max(0.0, wallS - covered / 1e3)
    (out, Window(wallS, j1 - j0, t1 - t0, (r1 - r0) / 1e3,
      (w1 - w0) / 1048576.0, gapS, sc.defaultParallelism))
  }
}
