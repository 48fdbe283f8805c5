package perfbench

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One finished task, as the listener saw it. Times in nanoseconds unless
  * named otherwise. */
final case class TaskSpan(stageId: Int, launchMs: Long, finishMs: Long, runNs: Long,
    cpuNs: Long, gcNs: Long, inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
    fetchWaitNs: Long, shuffleReadBytes: Long, spillBytes: Long)

/** One finished stage with its tasks. */
final case class StageSpan(stageId: Int, jobId: Int, name: String, submitMs: Long,
    doneMs: Long, tasks: Vector[TaskSpan]) {
  def busyNs: Long = tasks.map(_.runNs).sum
  def cpuNs: Long = tasks.map(_.cpuNs).sum
  def wallS: Double = (doneMs - submitMs) / 1e3
  /** max/median task run time; run times have millisecond resolution, so
    * the median is taken as at least 1 ms. */
  def skew: Double = {
    val t = tasks.map(_.runNs).sorted
    if (t.isEmpty) 0.0 else t.last.toDouble / math.max(1000000L, t(t.size / 2))
  }
}

final case class JobSpan(jobId: Int, group: String, startMs: Long, endMs: Long,
    stages: Vector[StageSpan]) {
  /** Job wall time not covered by any of its stages (scheduling, planning
    * work on the driver between stages, result handling). */
  def gapS: Double = {
    val iv = stages.map(s => (s.submitMs, s.doneMs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (endMs - startMs) - covered) / 1e3
  }
}

/** Records job, stage and task spans in memory, per job group, from
  * outside the program: a plain `SparkListener`. Spans of one measured
  * pass share its job group, which is the pass's identifier. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskSpan]]
  private val stages = mutable.Map.empty[Int, StageSpan]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobs = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val done = mutable.Map.empty[Int, JobSpan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = (group, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskSpan(
        e.stageId, i.launchTime, i.finishTime, m.executorRunTime * 1000000L,
        m.executorCpuTime, m.jvmGCTime * 1000000L, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime * 1000000L, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages(s.stageId) = StageSpan(s.stageId, stageJob.getOrElse(s.stageId, -1), s.name,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      tasks.remove(s.stageId).map(_.toVector).getOrElse(Vector.empty))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (group, start, stageIds) =>
      // skipped stages (shuffle reuse) never complete; keep the ones that ran
      val ran = stageIds.flatMap(stages.remove).toVector
      done(e.jobId) = JobSpan(e.jobId, group, start, e.time, ran)
    }
  }

  /** All jobs of `group`, once the listener has seen every event so far. */
  def jobsOf(group: String): Vector[JobSpan] = {
    PerfbenchBridge.drainListeners(sc)
    synchronized {
      val out = done.values.filter(_.group == group).toVector.sortBy(_.jobId)
      out.foreach(j => done.remove(j.jobId))
      out
    }
  }
}

/** One measured pass: its wall seconds and its job group. */
final case class Timed(wall: Double, group: String)

object Trace {
  private var n = 0L

  /** Run `body` as one measured pass in a fresh job group. */
  def pass(sc: SparkContext, label: String)(body: => Unit): Timed = {
    n += 1
    val group = s"perfbench-$label-$n"
    sc.setJobGroup(group, label, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      body
      Timed((System.nanoTime() - t0) / 1e9, group)
    } finally sc.clearJobGroup()
  }
}
