package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def oracleJson(only: Option[Set[String]]): String =
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // `--dump-oracles <file>`: write the FULL oracle map and exit —
    // no Spark session, no query runs (scripts/verify_sf01.sh uses
    // this to enumerate the suite on a clean checkout)
    if (args(0) == "--dump-oracles") {
      Files.writeString(Paths.get(args(1)), oracleJson(None))
      return
    }
    // optional 3rd arg: comma-separated name filter for local iteration
    // (the driver always calls with exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Graft.builder carries the engine's recommended conf; only the
    // verification-specific bits are layered on top
    val spark = Graft.builder(cpus.toInt, "graft-verify")
      .config("spark.ui.enabled", "false")
      // oracle-verification mode: the MD5 base hash is reproducible in
      // DuckDB SQL, so the sketch queries hash-match their oracles
      // (production runs use the default "xx" family — same plans,
      // faster kernels; see SketchOps)
      .config(graft.functions.SketchOps.FamilyKey, "md5")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release this query's unmanaged pins (signature/bucket/split
      // parents) before the next — same session hygiene as Bench
      graft.cache.Pins.release(spark)
    }
    // honor the same name filter here: otherwise check_oracle reports
    // "no spark output" for every filtered-out query and buries the
    // one being iterated on
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(only))
    spark.stop()
  }
}
