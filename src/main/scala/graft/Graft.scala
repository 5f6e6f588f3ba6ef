package graft

import org.apache.spark.sql.SparkSession

/** One-call session factory for library users: the engine's
  * recommended configuration (AQE on, right-sized shuffle
  * parallelism, nanos-timestamp compatibility) plus the native SQL
  * functions registered via
  * [[graft.functions.GraftExtensions]]. */
object Graft {

  /** Build (or get) a configured local session. `cores` sizes both
    * the master threads and `spark.sql.shuffle.partitions` — on a
    * real cluster set shuffle partitions to ~2-3x total executor
    * cores instead (and drop `master`). */
  def session(cores: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession =
    builder(cores, appName).getOrCreate()

  /** The pre-configured builder, for callers who add their own conf.
    * Its session resolves `file:` to [[graft.access.LocalFs]]. */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession.Builder =
    graft.access.LocalFs.register(SparkSession.builder())
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE re-plan the build side of persisted plans too —
      // otherwise an InMemoryRelation freezes its subplan into
      // static shuffles (no broadcast demotion, no partition
      // coalescing), which costs multiples on cache materialization
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // small-file split ergonomics: the default 4 MiB open-cost floor
      // collapses a single small parquet into ONE scan partition, so
      // every expression upstream of the first exchange runs on one
      // core (measured 6.5s single-threaded vs 0.3s split for the
      // shingle kernel on a 3 MiB file). 128 KiB keeps local/bench
      // scans parallel across cores; INERT at deployment scale, where
      // files exceed maxPartitionBytes and split on size alone
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      // parquet TIMESTAMP columns written without the UTC-adjusted
      // annotation read as TIMESTAMP (session-tz) not TIMESTAMP_NTZ,
      // whichever way the writer set isAdjustedToUTC — keeps the
      // engine's time functions (unix_micros, windows, watermarks)
      // applicable to any vendor's parquet under the UTC session tz
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
}
