package graft

import graft.llm._
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Writes.readParquet` reads a layer's schema from one footer on the
  * driver; for every layer kind the engine writes it must resolve to
  * exactly the schema Spark's inference returns (nullability and the
  * partition columns' inferred types included), and it must fail
  * exactly as the plain read does where there is nothing to read. */
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

  test("BM25 postings / stats / termdf, with a compacted " +
       "ingest_batch=-N partition: footer schema == inferred schema") {
    val base = scratch("bm25")
    (0L to 2L).foreach { b =>
      TextAnalysis.bm25PostingsBatch(
        docs.filter(col("doc_id") % 3 === b), base, batchId = b)
    }
    Seq("postings", "stats", "termdf").foreach { sub =>
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
}
