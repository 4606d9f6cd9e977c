package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Dev-only measurement tool (optimization guide §1): run one or more
  * SparkEntry queries and report every Spark JOB's wall time, task
  * count, task-time sum, and shuffle bytes — attributed by job
  * description / call site / SQL execution / last stage name — so
  * the multi-job facade queries (q138/q140/q142, the index
  * lifecycles) expose WHERE their seconds go on a headless host with
  * the UI disabled.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <query> [query...]
  *
  * Each query runs once untimed (warm: JIT, codegen caches, FS
  * listings) and once profiled; the profiled pass prints one line per
  * job sorted by submission, then one line per action (Dataset call
  * that ran a query) with its analysis, optimization and planning
  * milliseconds from the query's `QueryPlanningTracker` — the driver
  * work a job list shows only as gaps — and one line per stage where
  * a single task ran for >=80% of the stage's wall (`skewed`), with
  * its task count: a stage a wider split would not have shortened.
  * The timed action mirrors the Bench's (`GRAFT_BENCH_ACTION`:
  * noop-sink write by default, `count` for the legacy action), so the
  * job list is the scored work.
  * Profiling only — never part of Bench/Verify.
  *
  * Attribution caveat (r17 advice): stage→job mapping is last-write-
  * wins at job start, so a stage SHARED across jobs (skipped/reused
  * exchanges) is attributed to the most recent job that listed it,
  * and a resubmitted stage double-counts its task metrics. Fine for
  * locating multi-second phases; don't read per-job taskSec/shuffle
  * as exact on reused-stage queries. */
object JobProfile {

  private final case class JobRow(jobId: Int, desc: String,
      var started: Long = 0L, var finished: Long = 0L,
      stageIds: Seq[Int] = Nil)

  private final class ProfListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    val stageToJob = mutable.Map.empty[Int, Int]
    // per-job accumulated stage metrics
    val tasks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val taskTimeMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val shufRead = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val shufWrite = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val inputBytes = mutable.Map.empty[Int, Long].withDefaultValue(0L)

    val execDesc = mutable.Map.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { execDesc(x.executionId) = x.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // Spark 4 jobs usually carry neither property. Next best is the
      // SQL execution's call site ("localCheckpoint at Dedup.scala:301"),
      // which also names AQE's shuffle-stage jobs (their own stages are
      // named after an executor thread), then the last stage's name
      val prop = (k: String) =>
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
      val desc = prop("spark.job.description").orElse(prop("callSite.short"))
        .orElse(prop("spark.sql.execution.id").flatMap(id => execDesc.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("")
      jobs(e.jobId) = JobRow(e.jobId, desc, started = e.time,
        stageIds = e.stageIds)
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.finished = e.time)
    }
    val stageRows = mutable.ArrayBuffer.empty[String]
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val skewRows = mutable.ArrayBuffer.empty[String]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(0L)
        val durs = taskMs.remove(si.stageId).fold(Seq.empty[Long])(_.toSeq)
        if (skewed(wallMs, durs)) skewRows +=
          f"  stage ${si.stageId}%5d tasks ${si.numTasks}%4d wallSec ${wallMs / 1e3}%7.3f " +
          f"maxTaskSec ${durs.max / 1e3}%7.3f ${stageLabel(si)}"
        stageToJob.get(si.stageId).foreach { jid =>
          tasks(jid) += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            taskTimeMs(jid) += m.executorRunTime
            shufRead(jid) += m.shuffleReadMetrics.totalBytesRead
            shufWrite(jid) += m.shuffleWriteMetrics.bytesWritten
            inputBytes(jid) += m.inputMetrics.bytesRead
            if (m.executorRunTime >= 500) stageRows +=
              f"  stage ${si.stageId}%5d job $jid%4d tasks ${si.numTasks}%4d " +
              f"runSec ${m.executorRunTime / 1e3}%7.2f gcSec ${m.jvmGCTime / 1e3}%6.2f " +
              f"cpuSec ${m.executorCpuTime / 1e9}%7.2f deserSec ${m.executorDeserializeTime / 1e3}%6.2f " +
              f"${stageLabel(si)}"
          }
        }
      }
    /** A stage's engine call site: the owning job's `desc` — AQE
      * submits query stages from an executor thread, so their own
      * names point at `CompletableFuture`, not the engine — else,
      * when no job claims the stage, the stage's name. */
    private def stageLabel(si: StageInfo): String =
      stageToJob.get(si.stageId).flatMap(jobs.get).map(_.desc).filter(_.nonEmpty)
        .getOrElse(si.name).takeWhile(_ != '\n').take(100)
    def clear(): Unit = synchronized {
      jobs.clear(); stageToJob.clear(); tasks.clear(); taskTimeMs.clear()
      execDesc.clear()
      shufRead.clear(); shufWrite.clear(); inputBytes.clear()
      stageRows.clear(); taskMs.clear(); skewRows.clear()
    }
  }

  /** The stage-skew predicate: one task ran for at least 80% of its
    * stage's wall time, so the stage waited on that one task. */
  def skewed(stageWallMs: Long, taskMs: Seq[Long]): Boolean =
    stageWallMs > 0 && taskMs.nonEmpty && taskMs.max >= 0.8 * stageWallMs

  /** Per action: its name, then its analysis, optimization, planning
    * and run milliseconds (run is -1 for a failed action). */
  private final class PhaseListener extends QueryExecutionListener {
    val rows = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long)]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs / 1000000L)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, -1L)
    private def record(funcName: String, qe: QueryExecution, runMs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
      synchronized {
        rows += ((funcName, ms(QueryPlanningTracker.ANALYSIS),
          ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING), runMs))
      }
    }
    def clear(): Unit = synchronized(rows.clear())
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.build("job-profile")
    spark.sparkContext.setLogLevel("ERROR")
    val lst = new ProfListener
    spark.sparkContext.addSparkListener(lst)
    val phases = new PhaseListener
    spark.listenerManager.register(phases)

    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"

    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      graft.BenchAction.run(fn(spark, sfDir)) // warm pass, untimed
      Thread.sleep(300)        // let listener drain
      lst.clear(); phases.clear()
      val t0 = System.nanoTime()
      graft.BenchAction.run(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener events are async; let them land
      println(s"\n===== $n  wall=${f"$wall%.3f"}s  jobs=${lst.jobs.size} =====")
      println(f"${"job"}%4s ${"secs"}%7s ${"tasks"}%6s ${"taskSec"}%8s " +
        f"${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  desc")
      val rows = lst.jobs.values.toSeq
      rows.foreach { j =>
        val secs = (j.finished - j.started) / 1e3
        println(f"${j.jobId}%4d $secs%7.3f ${lst.tasks(j.jobId)}%6d " +
          f"${lst.taskTimeMs(j.jobId) / 1e3}%8.2f ${mb(lst.inputBytes(j.jobId))} " +
          f"${mb(lst.shufRead(j.jobId))} ${mb(lst.shufWrite(j.jobId))}  " +
          j.desc.take(120))
      }
      val gaps = {
        // time between consecutive jobs = driver-side work (planning,
        // collect processing, file listing) — guide §7.3's blind spot
        val sorted = rows.sortBy(_.started)
        sorted.sliding(2).collect { case Seq(a, b) =>
          math.max(0L, b.started - a.finished) }.sum / 1e3
      }
      val jobSecs = rows.map(j => (j.finished - j.started) / 1e3).sum
      println(f"sum(job secs)=$jobSecs%.3f  inter-job driver gap=$gaps%.3f  " +
        f"(wall includes plan/analysis time before job 0)")
      println(f"-- per action --\n  ${"action"}%-20s ${"analysisMs"}%10s ${"optimizeMs"}%10s " +
        f"${"planMs"}%8s ${"runMs"}%8s")
      phases.synchronized(phases.rows.toList).foreach { case (name, a, o, p, r) =>
        println(f"  ${name.take(20)}%-20s $a%10d $o%10d $p%8d $r%8d")
      }
      if (lst.stageRows.nonEmpty) {
        println("-- stages with >=0.5s summed task run time --")
        lst.stageRows.foreach(println)
      }
      if (lst.skewRows.nonEmpty) {
        println("-- stages where one task ran >=80% of the stage's wall --")
        lst.skewRows.foreach(println)
      }
    }
    spark.stop()
  }
}
