package graft

import graft.llm._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A BM25 postings layer is its postings and stats, nothing else.
  * Pinned here: the Spark jobs one append and one takedown cost, that
  * neither writes a term-df dir, and that a `termdf/` dir an earlier
  * build left changes no answer and is named by the layer doctor. */
class LayerMaintainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.builder(4, "layer-maintain-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta")

  private def corpus: DataFrame = {
    import spark.implicits._
    (0L until 300L).map(i => (i,
      (0 until 5 + (i % 7).toInt)
        .map(j => words(((i * 7 + j * j) % words.size).toInt))
        .mkString(" "))).toDF("doc_id", "text")
  }

  private def scratch(name: String): String = {
    val dir = s"${Scratch.root}/layermaintain_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  /** Docs 0..199 published as two doc-disjoint postings batches. */
  private def bm25Layer(name: String): String = {
    val dir = scratch(name)
    (0L to 1L).foreach { b =>
      TextAnalysis.bm25PostingsBatch(corpus.filter(col("doc_id") < 200 &&
        col("doc_id") % 2 === b), dir, batchId = b)
    }
    dir
  }

  private def jobs(body: => Unit): Int = JobWatch.during(spark)(body).size

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq

  private def queries: DataFrame = {
    import spark.implicits._
    Seq((1L, "alpha beta"), (2L, "gamma gamma zeta"), (3L, "theta"))
      .toDF("query_id", "text")
  }

  private def ids(pred: org.apache.spark.sql.Column): DataFrame =
    corpus.filter(pred).select("doc_id")

  test("a BM25 append runs in <= 5 jobs and a takedown in <= 10, " +
       "and neither writes a termdf dir") {
    val dir = bm25Layer("jobs")
    val append = jobs {
      TextAnalysis.bm25PostingsBatch(corpus.filter(col("doc_id") >= 200),
        dir, batchId = 2L)
    }
    val gone = ids(col("doc_id") % 9 === 4)
    var audit = (0L, 0L)
    val takedown = jobs { audit = Takedown.bm25Takedown(spark, dir, gone) }
    assert(audit._2 == 3L, s"every batch holds a removed doc: $audit")
    assert(append <= 5, s"append ran $append jobs, expected <= 5")
    assert(takedown <= 10, s"takedown ran $takedown jobs, expected <= 10")
    assert(!new java.io.File(s"$dir/termdf").exists(),
      "no maintenance call may write a termdf dir")
  }

  test("a termdf dir an earlier build left: named by layerDoctor, " +
       "read by no serve or takedown") {
    import spark.implicits._
    val dir = bm25Layer("legacy")
    // a stale dictionary: every term at df 1, so a reader would route
    // the saturated query to the slice arm and mis-count its df
    val legacy = s"$dir/termdf/ingest_batch=0"
    words.map(w => (w, 1L)).toDF("term", "df").coalesce(1)
      .write.parquet(legacy)
    val doctor = Takedown.layerDoctor(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filter(_._1 == "termdf-sidecar").toSeq
    assert(doctor.size == 1 && doctor.head._2 == "legacy-unread" &&
      doctor.head._3.contains(s"$dir/termdf"), s"$doctor")
    val gone = ids(col("doc_id") % 9 === 4)
    Takedown.bm25Takedown(spark, dir, gone)
    val remaining = corpus.filter(col("doc_id") < 200 &&
      col("doc_id") % 9 =!= 4)
    val rebuilt = rows(TextAnalysis.bm25TopK(remaining, queries, k = 5))
    assert(rebuilt.nonEmpty)
    assert(rows(TextAnalysis.bm25TopKFromPostings(spark, dir, queries,
      k = 5)) == rebuilt, "full-scan serve != rebuild")
    // every query term's exact df exceeds sliceM, so every query
    // routes to the full scan; the stale df would have sent each one
    // into the slice arm
    val (pruned, verdicts) = TextAnalysis.bm25PrunedCore(spark, dir,
      queries, k = 5, sliceM0 = 16)
    assert(rows(pruned) == rebuilt, "pruned serve != rebuild")
    assert(verdicts.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getBoolean(4))).sortBy(_._1).toSeq ==
      Seq((1L, 0L, false), (2L, 0L, false), (3L, 0L, false)))
    graft.cache.Pins.release(spark)
    // nothing rewrites or removes it; the guarded layer delete takes it
    assert(spark.read.parquet(legacy).count() == words.size.toLong)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.config.CLI.deleteLayerDirGuarded(fs,
      new org.apache.hadoop.fs.Path(dir))
    assert(!new java.io.File(dir).exists())
  }
}
