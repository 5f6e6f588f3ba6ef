package graft

import graft.llm._
import graft.serial.Formats
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Writes.readParquet` reads a layer's schema from one footer on the
  * driver; for every layer kind the engine writes it must resolve to
  * exactly the schema Spark's inference returns (nullability and the
  * partition columns' inferred types included), and it must fail
  * exactly as the plain read does where there is nothing to read.
  * A schema-less `graft.serial` parquet source and the memo's
  * read-backs resolve their schemas through the footer too. */
class LayerReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.builder(4, "layer-read-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    (0L until 120L).map(i => (i,
      (0 until 6).map(j => words(((i * 7 + j * j) % 6).toInt)).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def scratch(name: String): String = {
    val dir = s"${graft.Scratch.root}/layerread_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def sameAsInference(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*)
    val read = Writes.readParquet(spark, paths: _*)
    assert(read.schema == inferred.schema,
      s"${paths.mkString(",")}: ${read.schema.treeString} vs " +
        inferred.schema.treeString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(read) == rows(inferred), s"${paths.mkString(",")} rows")
  }

  test("BM25 postings / stats, compacted ingest_batch=-N: " +
       "footer == inferred schema") {
    val base = scratch("bm25")
    (0L to 2L).foreach { b =>
      TextAnalysis.bm25PostingsBatch(
        docs.filter(col("doc_id") % 3 === b), base, batchId = b)
    }
    Seq("postings", "stats").foreach { sub =>
      graft.streaming.IngestStream.ingestLayerCompact(spark,
        s"$base/$sub", watermark = 1L)
      assert(new java.io.File(s"$base/$sub/ingest_batch=-2").exists())
      sameAsInference(s"$base/$sub")
    }
    // the partition column keeps its inferred INT type
    assert(Writes.readParquet(spark, s"$base/stats")
      .schema("ingest_batch").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("IVF main and _delta, PQ main: footer schema == inferred " +
       "schema") {
    import spark.implicits._
    val ivf = scratch("ivf")
    def pad(v: Seq[Double]) = v.padTo(8, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)))
    def pts(ids: Seq[Long]) = ids.map(i =>
      (i, Seq((i % 11).toFloat, 0.0f).padTo(8, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts(1L to 6L), cents, ivf)
    Similarity.ivfAppendBatch(spark, ivf, pts(7L to 9L), batchId = 0L)
    sameAsInference(ivf)
    sameAsInference(s"$ivf/_delta")
    val pq = scratch("pq")
    val books = Seq(
      Seq(Seq(0.0, 0.0), Seq(8.0, 0.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 8.0)))
    Similarity.pqWriteIndex(Seq(
        (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
        (2L, Seq(7.0f, 0.0f, 1.0f, 0.0f)),
        (3L, Seq(1.0f, 0.0f, 9.0f, 0.0f))).toDF("vec_id", "embedding"),
      books, pq, nBuckets = 4)
    sameAsInference(pq)
  }

  test("a multi-path compaction source list: footer schema == " +
       "inferred schema") {
    val base = scratch("sources")
    (0L to 2L).foreach { b =>
      TextAnalysis.bm25PostingsBatch(
        docs.filter(col("doc_id") % 3 === b), base, batchId = b)
    }
    sameAsInference(
      (0L to 2L).map(b => s"$base/postings/ingest_batch=$b"): _*)
  }

  test("an empty dir and a missing dir fail exactly as the plain " +
       "read does") {
    val empty = scratch("empty")
    new java.io.File(empty).mkdirs()
    val missing = scratch("missing")
    Seq(empty, missing).foreach { dir =>
      val plain = intercept[AnalysisException](spark.read.parquet(dir))
      val read = intercept[AnalysisException](
        Writes.readParquet(spark, dir))
      assert(read.getCondition == plain.getCondition &&
        read.getMessage == plain.getMessage,
        s"$dir: ${read.getMessage} vs ${plain.getMessage}")
    }
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** A Spark-written parquet source and a memo entry read back with
    * the footer schema, starting no job before the action. */
  private def parquetCases(base: String): Unit = {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
    val src = s"$base/src.parquet"
    df.write.mode("overwrite").parquet(src)
    var read: DataFrame = null
    assert(JobWatch.during(spark) {
      read = Formats.Parquet.read(spark, Seq(src), None) }
      .flatMap(_.stages).isEmpty, "a parquet source read must start no job")
    val plain = spark.read.parquet(src)
    assert(read.schema == plain.schema && rows(read) == rows(plain))
    val memo = graft.cache.Memo(spark, s"$base/memo")
    val key = memo.keyOf(Seq("layer-read-spec", base))
    val miss = memo.getOrElseUpdate(key)(df.filter(col("id") > 1L))
    val entry = spark.read.parquet(s"$base/memo/$key")
    assert(miss.schema == entry.schema && rows(miss) == rows(entry))
    var hit: Option[DataFrame] = None
    assert(JobWatch.during(spark) { hit = memo.lookup(key) }
      .flatMap(_.stages).isEmpty, "a memo hit must start no job")
    assert(hit.get.schema == entry.schema && rows(hit.get) == rows(entry))
  }

  test("parquet source and memo hit/miss: footer schema, no job " +
       "before the action") {
    parquetCases(scratch("pqfmt"))
  }

  test("a parquet file without Spark's schema metadata falls back to " +
       "inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val base = scratch("foreign")
    val file = s"$base/f.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(
        "message m { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach(i =>
      w.write(groups.newGroup().append("id", i.toLong).append("name", s"n$i")))
    finally w.close()
    val plain = spark.read.parquet(file)
    var read: DataFrame = null
    val jobs = JobWatch.during(spark) {
      read = Formats.Parquet.read(spark, Seq(file), None) }
    assert(jobs.nonEmpty, "a footer without Spark metadata must infer")
    assert(read.schema == plain.schema && rows(read) == rows(plain))
  }

  test("the parquet source and memo reads on the mock s3a scheme") {
    MockS3FileSystem.withBucket(spark, scratch("s3")) { s3 =>
      parquetCases(s"$s3/pq")
    }
  }
}
