package graft.serial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One serialization method: how a format extension reads into / writes
  * from a DataFrame.
  *
  * Spark-native form of the reference's `SerialsFor` bundle
  * (porcupine-core/src/Data/Locations/SerializationMethod.hs:606-611):
  * the (TypeRep, FileExt)-indexed reader/writer maps collapse to
  * ext-indexed Spark reader/writer configs — Spark's own row encoders
  * replace the per-type decode functions.
  */
trait Format {
  def ext: String
  /** Write with an optional compression codec (the reference zlib-wraps
    * any serial, SerializationMethod.hs:703-723; Spark codecs: gzip/
    * bzip2/zstd/lz4/deflate). Formats without a codec knob ignore it. */
  def write(df: DataFrame, path: String, codec: Option[String]): Unit =
    write(df, path)
  def read(spark: SparkSession, paths: Seq[String],
           schema: Option[StructType]): DataFrame
  def write(df: DataFrame, path: String): Unit
  /** Partitioned write: one `<partitionCol>=<value>/` subdir per
    * distinct value, in THIS format (indexed sinks must honor the
    * entry's declared format, not silently switch to parquet). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       codec: Option[String]): Unit =
    throw new UnsupportedOperationException(
      s"partitioned write unsupported for .$ext")
}

object Formats {

  /** Parquet — our native format (the testdata's format; the reference
    * has no columnar serial, SURVEY §1.4 — this is the 100TB-scale
    * default: columnar, predicate-pushdown, partition-prunable). */
  object Parquet extends Format {
    val ext = "parquet"
    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) =
      schema.fold(graft.Writes.readParquet(s, paths: _*))(
        s.read.schema(_).parquet(paths: _*))
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)
    override def write(df: DataFrame, path: String, codec: Option[String]): Unit = {
      val w = df.write.mode("overwrite")
      codec.foreach(c => w.option("compression", c))
      w.parquet(path)
    }
    override def writePartitioned(df: DataFrame, path: String,
                                  partitionCol: String,
                                  codec: Option[String]): Unit = {
      // cluster by the partition key first — without it a dynamic-
      // partition write emits task x value files (Writes scaladoc)
      val w = graft.Writes.clusterByPartitions(df, partitionCol)
        .write.mode("overwrite").partitionBy(partitionCol)
      codec.foreach(c => w.option("compression", c))
      w.parquet(path)
    }
  }

  /** JSON lines (+ whole-doc via multiLine) — reference aeson serial
    * SerializationMethod.hs:268-314. */
  final case class Json(multiLine: Boolean = false) extends Format {
    val ext = "json"
    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) = {
      val r = s.read.option("multiLine", multiLine.toString)
      schema.foreach(r.schema)
      r.json(paths: _*)
    }
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").json(path)
    override def write(df: DataFrame, path: String, codec: Option[String]): Unit = {
      val w = df.write.mode("overwrite")
      codec.foreach(c => w.option("compression", c))
      w.json(path)
    }
    override def writePartitioned(df: DataFrame, path: String,
                                  partitionCol: String,
                                  codec: Option[String]): Unit = {
      val w = graft.Writes.clusterByPartitions(df, partitionCol)
        .write.mode("overwrite").partitionBy(partitionCol)
      codec.foreach(c => w.option("compression", c))
      w.json(path)
    }
  }

  /** CSV with configurable delimiter + header — reference
    * SerializationMethod.hs:426-512 (`Tabular` = headerless positional,
    * `Records` = header-named). */
  final case class Csv(header: Boolean = true, delimiter: String = ",")
      extends Format {
    val ext = "csv"
    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) = {
      val r = s.read.option("header", header.toString)
        .option("delimiter", delimiter)
      schema.fold(r.option("inferSchema", "true"))(r.schema)
      r.csv(paths: _*)
    }
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").option("header", header.toString)
        .option("delimiter", delimiter).csv(path)
    override def write(df: DataFrame, path: String, codec: Option[String]): Unit = {
      val w = df.write.mode("overwrite").option("header", header.toString)
        .option("delimiter", delimiter)
      codec.foreach(c => w.option("compression", c))
      w.csv(path)
    }
    override def writePartitioned(df: DataFrame, path: String,
                                  partitionCol: String,
                                  codec: Option[String]): Unit = {
      val w = graft.Writes.clusterByPartitions(df, partitionCol)
        .write.mode("overwrite").partitionBy(partitionCol)
        .option("header", header.toString).option("delimiter", delimiter)
      codec.foreach(c => w.option("compression", c))
      w.csv(path)
    }
  }

  /** Plain text, one row per line (or wholetext) — reference
    * SerializationMethod.hs:540-574. */
  final case class Txt(whole: Boolean = false) extends Format {
    val ext = "txt"
    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) =
      s.read.option("wholetext", whole.toString).text(paths: _*)
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").text(path)
    override def write(df: DataFrame, path: String, codec: Option[String]): Unit = {
      val w = df.write.mode("overwrite")
      codec.foreach(c => w.option("compression", c))
      w.text(path)
    }
  }

  /** Raw bytes as `binaryFile` rows (path, modificationTime, length,
    * content) — reference ByteString serial SerializationMethod.hs:
    * 514-538; also the ingest point for multimodal (image/audio) blobs. */
  object Bin extends Format {
    val ext = "bin"
    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) =
      s.read.format("binaryFile").load(paths: _*)
    def write(df: DataFrame, path: String): Unit =
      throw new UnsupportedOperationException(
        "binary sink: write per-row blobs via Multimodal.writeBlobs")
  }

  /** YAML (job specs & small config-ish data). Parsed driver-side with
    * the dependency-free subset parser in [[Yaml]], then distributed via
    * spark.read.json — YAML payloads are config-sized by construction
    * (reference uses YAML only for options/specs, SURVEY §2.G/§2.I). */
  object YamlFmt extends Format {
    val ext = "yaml"

    private def readTexts(conf: org.apache.hadoop.conf.Configuration,
                          loc: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.map(_.getPath).filterNot(f =>
            f.getName.startsWith("_") || f.getName.startsWith("."))
        else Seq(p)
      files.map(graft.Writes.readUtf8(fs, _))
    }

    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) = {
      // Hadoop FS (any scheme), file or directory; each document is
      // YAML or JSON (JSON is a YAML subset — also what `write` emits);
      // a top-level sequence becomes one row per element
      val conf = s.sparkContext.hadoopConfiguration
      val jsons = paths.flatMap(readTexts(conf, _))
        .filter(_.trim.nonEmpty)
        .flatMap { txt =>
          val t = txt.trim
          val v = if (t.startsWith("{") || t.startsWith("[")) JValue.parse(t)
            else Yaml.parse(txt)
          v match {
            case JArr(xs) => xs.map(_.render)
            case other    => Seq(other.render)
          }
        }
      val ds = s.createDataset(jsons)(s.implicits.newStringEncoder)
      val r = s.read
      schema.foreach(r.schema)
      r.json(ds)
    }

    /** Driver-side single-file write (YAML payloads are config-sized
      * by construction): a JSON array document — valid YAML — that
      * `read` parses back row-for-row. The old `df.write.json`
      * directory form could never be read back by this format. */
    def write(df: DataFrame, path: String): Unit = {
      val doc = df.toJSON.collect().mkString("[\n", ",\n", "\n]\n")
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(doc.getBytes("UTF-8")) finally out.close()
    }
  }

  /** ORC — the second columnar scale format (Spark-native datasource;
    * same pushdown/pruning story as parquet). The reference's serial
    * registry is extension-open (SerializationMethod.hs:606-611 maps
    * are user-extendable); ORC is the natural extra columnar entry a
    * Spark deployment expects (Hive-ecosystem interchange). */
  object Orc extends Format {
    val ext = "orc"
    def read(s: SparkSession, paths: Seq[String], schema: Option[StructType]) = {
      val r = s.read
      schema.foreach(r.schema)
      r.orc(paths: _*)
    }
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").orc(path)
    override def write(df: DataFrame, path: String, codec: Option[String]): Unit = {
      val w = df.write.mode("overwrite")
      codec.foreach(c => w.option("compression", c))
      w.orc(path)
    }
    override def writePartitioned(df: DataFrame, path: String,
                                  partitionCol: String,
                                  codec: Option[String]): Unit = {
      val w = graft.Writes.clusterByPartitions(df, partitionCol)
        .write.mode("overwrite").partitionBy(partitionCol)
      codec.foreach(c => w.option("compression", c))
      w.orc(path)
    }
  }

  val builtins: Map[String, Format] = Map(
    "parquet" -> Parquet,
    "orc" -> Orc,
    "json" -> Json(),
    "csv" -> Csv(),
    "txt" -> Txt(),
    "bin" -> Bin,
    "yaml" -> YamlFmt,
    "yml" -> YamlFmt
  )

  def apply(ext: String): Format = builtins.getOrElse(
    ext, throw new IllegalArgumentException(s"unsupported format: .$ext"))
}
