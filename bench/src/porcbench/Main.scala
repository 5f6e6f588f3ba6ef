package porcbench

/** Benchmark entry point: `porcbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE`. Starts the production session
  * (`Graft.builder` + the XXH64 sketch family, at `local[nproc]`),
  * runs one workload and writes its figures to FILE as JSON.
  *
  * `porcbench.Main --train 1 --work DIR` instead runs the set-up and
  * warm-up of every workload once, without a window or figures: the
  * build runs it to record the class-data-sharing archive that later
  * runs start from. */
object Main {
  val workloads: Map[String, Run => Unit] = Map(
    "index_maintain" -> (IndexMaintain(_)),
    "short_runs" -> (ShortRuns(_)))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val train = a.get("--train").contains("1")
    val workload = a.getOrElse("--workload", "")
    require(train || workloads.contains(workload), s"unknown workload $workload")
    val work = new java.io.File(a("--work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.builder(cores, "porcbench")
      .config("spark.ui.enabled", "false")
      .config(graft.functions.SketchOps.FamilyKey, "xx")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // one long-lived session runs every kind of operation in turn; with
      // Spark's default 100-entry codegen cache they evict each other's
      // generated classes, and which ones get recompiled differs from run
      // to run (see bench/README.md)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (train) {
      try workloads.toSeq.sortBy(_._1).foreach { case (name, run) =>
        run(new Run(spark, 1L, 0.0, trace = false, s"$work/$name", train = true))
      }
      finally spark.stop()
      return
    }
    val r = new Run(spark, a("--seed").toLong, a("--seconds").toDouble,
      a("--trace") == "1", work)
    r.sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    r.prop("workload", workload)
    r.prop("seed", r.seed)
    r.prop("cores", cores)
    try workloads(workload)(r)
    finally {
      r.write(a("--out"))
      spark.stop()
    }
  }
}
