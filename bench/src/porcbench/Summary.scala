package porcbench

/** Set-up timing: the inputs are generated several times and the
  * median counts, so one slow (first, cold) repetition does not set
  * `setup_s`. */
object Setup {
  val reps = 3

  def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** Input generation, `reps` times (once in a training run). */
  def repeat(r: Run)(f: Int => Unit): Seq[Double] =
    (0 until (if (r.train) 1 else reps)).map(i => time(f(i)))

  /** setup_s = JVM + session start + median of the repeated input
    * generation + the one-off steps (layer builds, warm-up). */
  def report(r: Run, repMs: Seq[Double], onceMs: Double): Unit = {
    r.prop("setup_session_s", f"${r.sessionS}%.3f")
    r.prop("setup_inputs_s", repMs.map(m => f"${m / 1000}%.3f").mkString(","))
    r.prop("setup_once_s", f"${onceMs / 1000}%.3f")
    r.e2e("setup_s") = (r.sessionS + Stats.median(repMs) / 1000 + onceMs / 1000, "s")
  }
}

object Summary {
  /** The end-to-end figures every workload reports. `kinds`: latency
    * samples per operation kind; `writeKinds`: those of the writing
    * kinds. Both typical latencies are the geometric mean of the kinds'
    * medians, so a mix of fast and slow kinds does not make the median
    * jump between them. `nOps`/`timedMs`: all completed operations and
    * their summed timed wall time. */
  def endToEnd(r: Run, kinds: Seq[Seq[Double]], writeKinds: Seq[Seq[Double]],
               nOps: Int, timedMs: Double, bytesPerRow: Double): Unit = {
    r.e2e("op_p50_ms") = (typical(kinds), "ms")
    r.prop("op_ms", kinds.map(_.map(_.round).mkString(",")).mkString(" | "))
    r.e2e("write_op_s") = (typical(writeKinds) / 1000, "s")
    r.e2e("ops_per_s") = (nOps / (timedMs / 1000), "1/s")
    r.e2e("write_bytes_per_row") = (bytesPerRow, "B/row")
  }

  /** Geometric mean of the kinds' median latencies. */
  def typical(kinds: Seq[Seq[Double]]): Double = {
    val meds = kinds.filter(_.nonEmpty).map(Stats.median)
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Tracing overhead (traced minus untraced `op_p50_ms` over the
    * `kinds` that ran both ways), engine counters, the pipeline layers
    * (when the workload ran pipelines) and the span breakdown of a
    * traced run. */
  def traced(r: Run, kinds: Seq[String]): Unit = {
    val both = kinds.filter(k => r.lat(k).nonEmpty && r.lat(k, traced = true).nonEmpty)
    val u = typical(both.map(r.lat(_)))
    val t = typical(both.map(r.lat(_, traced = true)))
    r.layer("trace.overhead_ms") = (t - u, "ms")
    r.layer("trace.overhead_pct") = (100 * (t - u) / u, "%")
    Layers.spark(r)
    Seq("config.resolve", "loc.bind", "task.build", "task.run")
      .filter(r.tr.named(_).nonEmpty)
      .foreach(s => r.layer(s + "_ms") = (Layers.medianMs(r, s), "ms"))
    if (r.tr.named("task.run").nonEmpty)
      r.layer("task.driver_gap_ms") = (Layers.gapMedian(r, "task.run"), "ms")
    r.notes ++= Layers.breakdown(r)
  }

  /** Run-end guards: persisted RDDs left after the last release and
    * protocol temp dirs left under `roots`. Non-zero fails the run. */
  def hygiene(r: Run, roots: Seq[String]): Unit = {
    graft.cache.Pins.release(r.spark)
    val leaked = r.spark.sparkContext.getPersistentRDDs.size
    val temps = Fs.leftoverTemps(roots)
    r.layer("pins.release_ms") = (Layers.medianMs(r, "pins.release"), "ms")
    r.layer("pins.leaked_rdds") = (leaked.toDouble, "count")
    r.layer("hygiene.leftover_temp_dirs") = (temps.size.toDouble, "count")
    if (leaked != 0) r.hygiene += s"$leaked persisted RDDs left at run end"
    if (temps.nonEmpty)
      r.hygiene += s"${temps.size} temp dirs left: ${temps.take(3).mkString(", ")}"
  }
}
