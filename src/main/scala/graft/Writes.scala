package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Layer I/O helpers shared by every layer reader and writer. */
object Writes {

  /** Cluster rows by the write-partition key(s) before a
    * `partitionBy` parquet write.
    *
    * Without it, a dynamic-partition write emits one file per
    * (task x partition-value) pair: a 32-task stage writing a
    * 16-cell IVF layout produced ~200 parquet files for 2,000 rows
    * (measured, llm_ivf_patch scratch), and every one of those files
    * costs an open/commit round trip at write time and an
    * open/footer-read at every later scan — the "small files hurt
    * twice" failure mode, which at object-store scale also multiplies
    * listing and commit latency.
    *
    * The REBALANCE hint shuffles by the partition key with AQE
    * sizing both ways: partitions holding little data coalesce (one
    * task writes several partition values — still one file per
    * value, because a value hashes to exactly one reducer), and a
    * partition bigger than the advisory size splits into
    * advisory-sized chunks (`optimizeSkewsInRebalancePartitions`,
    * on by default), so a hot cell/batch still writes in parallel
    * with well-sized files. That makes the same call correct at
    * bench scale (fewer tiny files, fewer commit round trips) and at
    * 100 TB (bounded file sizes, no single-task hot-key write).
    * Row order within a file may differ from the unclustered write;
    * every layer consumer aggregates or re-sorts, and layer
    * equivalence stays oracle-hash-proven. */
  def clusterByPartitions(df: DataFrame, cols: String*): DataFrame =
    // ResolveCoalesceHints only recognizes UNRESOLVED attributes as
    // column parameters — functions.col, never df.col (resolved refs
    // are rejected as "can not be recognized")
    df.hint("rebalance",
      cols.map(org.apache.spark.sql.functions.col): _*)

  /** `spark.read.parquet(paths*)` without the schema-inference job
    * when Spark wrote the files: every layer and memo entry the engine
    * writes, and any Spark-written parquet source.
    *
    * Plain inference starts a one-task Spark job to read ONE footer:
    * a summary file if the listing holds one, else a data file. On a
    * maintenance cycle that job is pure orchestration (a dozen per
    * cycle, each a driver round trip), so this reads a footer on the
    * driver instead — a summary file in a directory on the way, else
    * the first data file in name order, depth first, listing only the
    * directories on the way to it — and hands its
    * schema — Spark's own row-metadata JSON, the exact value
    * inference would return — to the reader. Partition columns are
    * not in a file footer, so they are still discovered from the
    * paths with the same inferred types.
    *
    * Falls back to the plain read (and whatever it raises — a missing
    * path or a dir with no data file keeps its `AnalysisException`)
    * when no data file is found, when the footer carries no Spark
    * schema (a foreign writer: inference converts the parquet schema
    * under session settings), or when session `mergeSchema` is on
    * (inference then reads every footer). */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  // Spark's listing rule for hidden names (HadoopFSUtils): `_` and
  // `.` prefixes are skipped unless the name is a partition
  // directory (`_x=1`) or a summary file
  private def hiddenName(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")) &&
      !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))

  private def footerSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false")
        .toBoolean) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val summaries = Seq("_common_metadata", "_metadata")
    // depth first in name order, listing only the directories on the
    // way: the read itself lists the whole tree again
    def footerFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
      if (!st.isDirectory) Some(st)
      else {
        val kids = fs.listStatus(st.getPath)
          .filterNot(c => hiddenName(c.getPath.getName))
          .sortBy(_.getPath.getName)
        summaries.flatMap(n => kids.find(_.getPath.getName == n))
          .headOption
          .orElse(kids.iterator.flatMap(footerFile(fs, _)).nextOption())
      }
    scala.util.Try {
      paths.sorted.iterator.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        footerFile(fs, fs.getFileStatus(path))
      }.nextOption()
        .map { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf))
          try reader.getFooter.getFileMetaData.getKeyValueMetaData
            .get(org.apache.spark.sql.execution.datasources.parquet
              .ParquetReadSupport.SPARK_METADATA_KEY)
          finally reader.close()
        }
        .collect { case json: String => DataType.fromJson(json) }
        .collect { case s: StructType => s }
    }.toOption.flatten
  }

  /** Run `write` over `df` and return the number of rows it wrote,
    * counted by an `Observation` on the write's own pass: reading the
    * output back to count it would cost a Spark job or two more. */
  def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Whole-file UTF-8 read of a small protocol file (commit markers,
    * staged sidecars, model sidecars). */
  def readUtf8(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
  }
}
