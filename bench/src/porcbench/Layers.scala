package porcbench

/** Per-layer figures from the spans of a traced run. */
object Layers {
  def medianMs(r: Run, span: String): Double = {
    val s = r.tr.named(span)
    if (s.isEmpty) 0.0 else Stats.median(s.map(_.ms))
  }

  def jobsPer(r: Run, span: String): Double = {
    val s = r.tr.named(span)
    if (s.isEmpty) 0.0 else s.map(r.tr.jobsIn(_).size.toDouble).sum / s.size
  }

  def gapMedian(r: Run, span: String): Double = {
    val s = r.tr.named(span)
    if (s.isEmpty) 0.0 else Stats.median(s.map(r.tr.gapMs))
  }

  /** Engine counters per traced operation (`op` spans), plus a text
    * breakdown of every span name. */
  def spark(r: Run): Unit = {
    val ops = r.tr.named("op")
    val n = ops.size.max(1).toDouble
    val jobs = ops.flatMap(r.tr.jobsIn).distinctBy(_.id)
    def per(f: JobRec => Long) = jobs.map(f).sum / n
    val wall = ops.map(_.ms).sum
    val m = r.layer
    m("spark.jobs") = (jobs.size / n, "count")
    m("spark.stages") = (per(_.stages.size.toLong), "count")
    m("spark.tasks") = (per(_.tasks), "count")
    m("spark.task_ms") = (per(_.taskMs), "ms")
    m("spark.plan_ms") = (ops.map(r.tr.planMsIn).sum / n, "ms")
    m("spark.codegen_compiles") = (ops.map(_.compiles).sum / n, "count")
    m("spark.shuffle_write_bytes") = (per(_.shuffleWrite), "B")
    m("spark.shuffle_read_bytes") = (per(_.shuffleRead), "B")
    m("spark.spill_bytes") = (per(_.spill), "B")
    m("spark.peak_exec_mem_mb") =
      ((if (jobs.isEmpty) 0L else jobs.map(_.peakMem).max) / 1048576.0, "MB")
    m("spark.task_failures") = (jobs.map(_.failures).sum.toDouble, "count")
    m("spark.busy_cores") =
      (if (wall > 0) jobs.map(_.taskMs).sum / wall else 0.0, "cores")
  }

  /** `name: n=.. median=..ms jobs/span=.. gap=..ms` per span name. */
  def breakdown(r: Run): Seq[String] =
    r.tr.spans.map(_.name).distinct.sorted.map { nm =>
      val s = r.tr.named(nm)
      f"span $nm%-22s n=${s.size}%3d median=${Stats.median(s.map(_.ms))}%9.1f ms" +
        f" jobs/span=${jobsPer(r, nm)}%6.1f" +
        f" driver_gap=${Stats.median(s.map(r.tr.gapMs))}%8.1f ms"
    }.toSeq
}
