package perfbench

import java.nio.file.{Files, Paths}

/** Writes the spans a traced run kept in memory, one JSON object a line:
  * jobs, their stages and tasks (a span's `parent` is the span that caused
  * it), then the kernel phase sums. */
object Spans {
  def write(path: String, jobs: Seq[JobSpan], kernels: Seq[(String, PhaseSums)]): Unit = {
    val lines = Seq.newBuilder[String]
    jobs.foreach { j =>
      lines += s"""{"span": "job", "id": "job-${j.jobId}", "pass": ${Json.str(j.group)}, """ +
        s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}}"""
      j.stages.foreach { s =>
        lines += s"""{"span": "stage", "id": "stage-${s.stageId}", "parent": "job-${j.jobId}", """ +
          s""""name": ${Json.str(s.name)}, "start_ms": ${s.submitMs}, "end_ms": ${s.doneMs}, """ +
          s""""tasks": ${s.tasks.size}, "busy_ns": ${s.busyNs}}"""
        s.tasks.foreach { t =>
          lines += s"""{"span": "task", "parent": "stage-${s.stageId}", "start_ms": ${t.launchMs}, """ +
            s""""end_ms": ${t.finishMs}, "run_ns": ${t.runNs}, "cpu_ns": ${t.cpuNs}, "gc_ns": ${t.gcNs}, """ +
            s""""input_bytes": ${t.inputBytes}, "shuffle_write_bytes": ${t.shuffleWriteBytes}, """ +
            s""""shuffle_write_ns": ${t.shuffleWriteNs}, "shuffle_read_bytes": ${t.shuffleReadBytes}, """ +
            s""""fetch_wait_ns": ${t.fetchWaitNs}, "spill_bytes": ${t.spillBytes}}"""
        }
      }
    }
    kernels.foreach { case (label, k) =>
      val phases = Replay.Phases.zip(k.ns).map { case (n, v) => s"${Json.str(n)}: $v" }.mkString(", ")
      lines += s"""{"span": "kernel", "id": ${Json.str(label)}, "turns": ${k.turns}, "cpu_ns": ${k.cpuNs}, "phase_ns": {$phases}}"""
    }
    Files.writeString(Paths.get(path), lines.result().mkString("", "\n", "\n"))
  }
}
