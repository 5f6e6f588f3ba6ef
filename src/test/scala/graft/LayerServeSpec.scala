package graft

import graft.llm._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The standing-layer top-k serves resolve the query batch and the
  * layer scalars on the driver before they plan. Pinned here: the
  * Spark jobs one serve of a local query frame costs, and the layered
  * BM25 answer on the batch shapes the driver-side resolution has to
  * get right, against the one-shot run over the union corpus. */
class LayerServeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.builder(4, "layer-serve-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.01"

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta")

  private def corpus: DataFrame = {
    import spark.implicits._
    (0L until 200L).map(i => (i,
      (0 until 5 + (i % 7).toInt)
        .map(j => words(((i * 7 + j * j) % words.size).toInt))
        .mkString(" "))).toDF("doc_id", "text")
  }

  private def scratch(name: String): String = {
    val dir = s"${Scratch.root}/layerserve_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  /** The corpus published as two doc-disjoint postings batches. */
  private def bm25Layer(name: String): String = {
    val dir = scratch(name)
    TextAnalysis.bm25PostingsBatch(corpus.filter(col("doc_id") % 2 === 0),
      dir, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(corpus.filter(col("doc_id") % 2 =!= 0),
      dir, batchId = 1L)
    dir
  }

  private val qSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("text", StringType)))

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def jobs(body: => Unit): Int = JobWatch.during(spark)(body).size

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq

  test("a BM25 serve of a local query frame runs in <= 7 jobs, " +
       "set-query and bag-query alike") {
    val dir = bm25Layer("jobs")
    val qs = local(Seq(Row(1L, "alpha beta"), Row(2L, "gamma gamma zeta"),
      Row(3L, "theta nosuchterm")), qSchema)
    Seq(
      "set-query" -> (() => TextAnalysis.bm25TopKFromPostings(
        spark, dir, qs, k = 5)),
      "bag-query" -> (() => TextAnalysis.bm25TopKWeightedFromPostings(
        spark, dir, qs, k = 5))).foreach { case (face, serve) =>
      var got = Seq.empty[(Long, Long, Long, Double)]
      val n = jobs { got = rows(serve()) }
      assert(got.size == 15, s"$face: ${got.size} rows")
      assert(n <= 7, s"$face serve ran $n jobs, expected <= 7")
    }
  }

  test("an IVF serve of a local query frame runs in <= 3 jobs, " +
       "with and without a standing _delta") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = scratch("ivf")
    val cents = Similarity.kmeansCentroidsUncached(emb, nCells = 16,
      iters = 2)
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0), cents,
      dir)
    val vSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("query_vec", ArrayType(DoubleType, false))))
    val qRows = emb.filter(col("vec_id") % 50 === 0).limit(8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq
    val qs = local(qRows, vSchema)
    def serve(): Unit = {
      var got = 0
      val n = jobs {
        got = Similarity.ivfTopKIndexedAuto(spark, dir, qs, k = 5)
          .collect().length
      }
      assert(got == qRows.size * 5, s"$got rows for ${qRows.size} queries")
      assert(n <= 3, s"IVF serve ran $n jobs, expected <= 3")
    }
    serve()
    Similarity.ivfAppendBatch(spark, dir,
      emb.filter(col("vec_id") % 2 =!= 0), batchId = 0L)
    assert(new java.io.File(s"$dir/_delta").exists())
    serve()
  }

  test("layered BM25 == one-shot over the union corpus bit-for-bit: " +
       "duplicate query ids, absent-only, empty and null texts") {
    val dir = bm25Layer("edges")
    val batch = Seq(
      Row(1L, "alpha beta alpha"), Row(1L, "beta gamma gamma"),
      Row(2L, "nosuchterm otherabsent"),
      Row(3L, ""),
      Row(4L, null),
      Row(5L, "zeta zeta eta delta"))
    val shapes = Seq(
      "local" -> local(batch, qSchema),
      "distributed" -> spark.createDataFrame(
        spark.sparkContext.parallelize(batch, 3), qSchema))
    shapes.foreach { case (shape, qs) =>
      val set = rows(TextAnalysis.bm25TopK(corpus, qs, k = 7))
      val bag = rows(TextAnalysis.bm25TopKWeighted(corpus, qs, k = 7))
      assert(set.map(_._1).distinct == Seq(1L, 5L), s"$shape: $set")
      assert(set != bag, s"$shape: repeated terms must weigh in bag mode")
      assert(rows(TextAnalysis.bm25TopKFromPostings(spark, dir, qs,
        k = 7)) == set, s"$shape: set-query layered != one-shot")
      assert(rows(TextAnalysis.bm25TopKWeightedFromPostings(spark, dir,
        qs, k = 7)) == bag, s"$shape: bag-query layered != one-shot")
      assert(rows(TextAnalysis.bm25TopKFromPostingsPruned(spark, dir,
        qs, k = 7, sliceM = 16)) == set, s"$shape: pruned != one-shot")
      assert(rows(TextAnalysis.bm25TopKFromPostingsPrunedWeighted(spark,
        dir, qs, k = 7, sliceM = 16)) == bag,
        s"$shape: pruned bag-query != one-shot")
      graft.cache.Pins.release(spark)
    }
  }
}
