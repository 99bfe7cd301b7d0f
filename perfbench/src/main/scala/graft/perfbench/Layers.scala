package graft.perfbench

/** Execution-layer figures (jobs, stages, tasks) over a set of jobs
  * attributed to the measured work, divided by `per` units of work. */
object Layers {

  def exec(jobs: Seq[JobRec], r: Recorder, cores: Int, per: Double,
           out: Outcome): Unit = {
    val ids = jobs.map(_.id).toSet
    val st = r.allStages.filter(s => ids(s.job))
    val jobS = Spans.covered(jobs.map(j => (j.start.toDouble, j.end.toDouble)),
      Double.MinValue, Double.MaxValue) / 1000.0
    val runS = st.map(_.runMs).sum / 1000.0
    val m = out.metrics
    m("exec.jobs") = jobs.size / per
    m("exec.stages") = st.size / per
    m("exec.tasks") = st.map(_.tasks.toLong).sum / per
    m("exec.job_s") = jobS / per
    m("exec.task_run_s") = runS / per
    m("exec.task_cpu_s") = st.map(_.cpuNs).sum / 1e9 / per
    m("exec.slot_busy_ratio") = if (jobS > 0) runS / (jobS * cores) else 0.0
    m("exec.shuffle_read_bytes") = st.map(_.shuffleRead).sum / per
    m("exec.shuffle_write_bytes") = st.map(_.shuffleWrite).sum / per
    m("exec.spill_bytes") = st.map(_.spill).sum / per
    m("exec.gc_s") = st.map(_.gcMs).sum / 1000.0 / per
    m("exec.task_failures") = r.taskFailures.get.toDouble
    out.note(f"exec.slot_busy_ratio = task_run_s $runS%.3f / " +
      f"(job_s $jobS%.3f x $cores cores) over ${jobs.size} jobs")
  }
}
