package graft

import graft.llm._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Takedown-propagation semantics: each persisted layer's takedown is
  * proven equivalent to a rebuild over `corpus MINUS ids`, untouched
  * partitions keep their files byte-for-byte, reruns are no-ops, and
  * the commit-marker protocol recovers from a crash at any point. */
class TakedownSpec extends AnyFunSuite {

  // Graft.builder, not a raw session: suites share one JVM, so the
  // first getOrCreate wins for everyone — it must carry the engine
  // extensions or ExtensionsSpec's SQL-surface tests lose them
  lazy val spark: SparkSession = Graft.builder(4, "takedown-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.01"
  def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def scratch(name: String): String = {
    val dir = s"${graft.Scratch.root}/takedown_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  /** (name, length, mtime) listing of one partition dir — the
    * byte-identity probe the pq patch spec established. */
  private def listing(dir: String) =
    Option(new java.io.File(dir).listFiles())
      .map(_.map(f => (f.getName, f.length, f.lastModified))
        .sortBy(_._1).toSeq)

  private def idsDf(ids: Seq[Long], col: String) = {
    import spark.implicits._
    ids.toDF(col)
  }

  test("layerTakedown: only partitions holding a takedown row are " +
       "rewritten (compacted negatives included); emptied partitions " +
       "disappear; untouched partitions byte-identical; rerun no-op") {
    import spark.implicits._
    val dir = scratch("layer")
    def part(b: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/ingest_batch=$b")
    part(0L, Seq((1L, "a"), (2L, "b")))
    part(1L, Seq((3L, "c"), (4L, "d")))
    graft.streaming.IngestStream.ingestLayerCompact(spark, dir,
      watermark = 1L)
    part(2L, Seq((5L, "e"), (6L, "f")))
    part(3L, Seq((7L, "g")))
    val b2Before = listing(s"$dir/ingest_batch=2")
    // ids hit the compacted partition (-2) and batch 3 (entirely)
    val (rows, parts) = Takedown.layerTakedown(spark, dir,
      idsDf(Seq(2L, 7L, 999L), "doc_id"), "doc_id")
    assert((rows, parts) == ((2L, 2L)), s"audit: $rows/$parts")
    val left = spark.read.parquet(dir)
      .select(col("doc_id"), col("ingest_batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(left == Set((1L, -2L), (3L, -2L), (4L, -2L),
      (5L, 2L), (6L, 2L)),
      s"post-takedown layer content: $left")
    assert(!new java.io.File(s"$dir/ingest_batch=3").exists(),
      "a partition that lost every row must disappear")
    assert(listing(s"$dir/ingest_batch=2") == b2Before,
      "untouched partitions must keep their files byte-for-byte")
    assert(Takedown.layerTakedown(spark, dir,
      idsDf(Seq(2L, 7L, 999L), "doc_id"), "doc_id") == ((0L, 0L)),
      "rerun with the same ids must be a no-op")
  }

  test("layerTakedown crash recovery: a COMMITTED _takedown_tmp is " +
       "replayed on entry (mid-swap states converge); an uncommitted " +
       "one is discarded with the live layer untouched") {
    import spark.implicits._
    val dir = scratch("crash")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/ingest_batch=0")
    Seq((3L, "c")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/ingest_batch=1")
    // Reconstruct the WORST crash point of a takedown of ids {2, 3}:
    // fresh content written + marker committed (batch 0 keeps row 1,
    // batch 1 empties), live batch 1 NOT yet deleted, fresh batch 0
    // NOT yet renamed in.
    val tmp = s"$dir/_takedown_tmp"
    Seq((1L, "a")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$tmp/ingest_batch=0")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_TAKEDOWN_COMMIT"),
      "1 ingest_batch=0\n0 ingest_batch=1\n".getBytes("UTF-8"))
    // entry-time recovery (any takedown entry or the public call)
    Swap.completePending(spark, dir)
    val left = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L), s"recovered layer content: $left")
    assert(!new java.io.File(tmp).exists(), "tmp cleared after recovery")
    // an UNCOMMITTED tmp never touched the layer — discarded on entry
    Seq((99L, "z")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$tmp/ingest_batch=0")
    assert(Takedown.layerTakedown(spark, dir,
      idsDf(Seq(42L), "doc_id"), "doc_id") == ((0L, 0L)))
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "pre-commit garbage must not leak phantom rows into the layer")
    assert(!new java.io.File(tmp).exists())
  }

  test("bm25Takedown: serving the patched layer is bit-identical to " +
       "a one-shot rebuild over corpus MINUS ids; stats debited " +
       "exactly; rerun no-op") {
    val base = scratch("bm25")
    val corpus = docs.filter(col("doc_id") % 100 =!= 0)
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 8), " ")
          .as("text"))
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 === 0), base, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 =!= 0), base, batchId = 1L)
    val takeIds = corpus.filter(col("doc_id") % 15 === 7)
      .select("doc_id")
    val nTake = takeIds.count()
    assert(nTake > 0, "fixture must actually remove docs")
    val (rmDocs, parts) = Takedown.bm25Takedown(spark, base, takeIds)
    assert(rmDocs > 0 && parts == 2L,
      s"both batches hold %15==7 docs: $rmDocs/$parts")
    val remaining = corpus.filter(col("doc_id") % 15 =!= 7)
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val served = tuples(
      TextAnalysis.bm25TopKFromPostings(spark, base, qs, k = 5))
    val rebuilt = tuples(TextAnalysis.bm25TopK(remaining, qs, k = 5))
    assert(served.nonEmpty && served == rebuilt,
      "patched layer must serve the rebuild's exact ranking")
    // stats partitions hold exactly the remaining corpus's mass
    val st = spark.read.parquet(s"$base/stats")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    val wantN = remaining.count()
    val wantDl = remaining
      .agg(sum(size(TextAnalysis.tokens(col("text")))).cast("long"))
      .collect()(0).getLong(0)
    assert((st.getLong(0), st.getLong(1)) == ((wantN, wantDl)),
      s"stats debit must be exact: ${(st.getLong(0), st.getLong(1))}" +
        s" vs ${(wantN, wantDl)}")
    assert(Takedown.bm25Takedown(spark, base, takeIds) == ((0L, 0L)))
  }

  test("bm25Takedown on a COMPACTED layer: postings and stats " +
       "compacted at the same watermark stay id-aligned, the debit " +
       "is exact, and the patched layer serves the rebuild ranking") {
    val base = scratch("bm25_compacted")
    val corpus = docs.filter(col("doc_id") % 100 =!= 0)
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 8), " ")
          .as("text"))
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 === 0), base, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 =!= 0), base, batchId = 1L)
    // the documented compaction usage: postings and stats at one
    // watermark
    graft.streaming.IngestStream.ingestLayerCompact(spark,
      s"$base/postings", watermark = 1L)
    graft.streaming.IngestStream.ingestLayerCompact(spark,
      s"$base/stats", watermark = 1L)
    val takeIds = corpus.filter(col("doc_id") % 15 === 7)
      .select("doc_id")
    val (rm, parts) = Takedown.bm25Takedown(spark, base, takeIds)
    assert(rm > 0 && parts == 1L,
      s"one compact partition holds everything: $rm/$parts")
    val remaining = corpus.filter(col("doc_id") % 15 =!= 7)
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(tuples(TextAnalysis.bm25TopKFromPostings(spark, base, qs,
        k = 5)) ==
      tuples(TextAnalysis.bm25TopK(remaining, qs, k = 5)),
      "compacted-then-patched layer must serve the rebuild ranking")
    val st = spark.read.parquet(s"$base/stats")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    assert(st.getLong(0) == remaining.count(),
      "stats debit must be exact on the compact partition")
  }

  test("ivfTakedown: rows vanish from their cells, centroids/sidecar " +
       "untouched, other cells byte-identical, serving matches a " +
       "rebuild over the remaining corpus") {
    import spark.implicits._
    val base = scratch("ivf")
    def pad(v: Seq[Double]) = v.padTo(64, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)),
      pad(Seq(100.0, 100.0)))
    val v1 = Seq(1.0f, 0.0f).padTo(64, 0.0f)
    val v2 = Seq(7.0f, 0.0f).padTo(64, 0.0f)
    val v3 = Seq(100.0f, 99.0f).padTo(64, 0.0f)
    val pts = Seq((1L, v1), (2L, v2), (3L, v3))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts, cents, base)
    val c2Before = listing(s"$base/cell_id=2")
    val (rows, parts) = Takedown.ivfTakedown(spark, base,
      idsDf(Seq(2L), "vec_id"))
    assert((rows, parts) == ((1L, 1L)))
    assert(!new java.io.File(s"$base/cell_id=1").exists(),
      "cell 1 lost its only row and must disappear")
    assert(listing(s"$base/cell_id=2") == c2Before,
      "unaffected cells keep their files byte-for-byte")
    assert(Similarity.servedModel(spark, base, Similarity.IvfLayout)
        == Seq(cents),
      "takedown must not touch the centroid sidecar")
    val q = Seq((7L, v2.map(_.toDouble).map(_.toFloat)))
      .toDF("query_id", "query_vec")
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val served = tuples(Similarity.ivfTopKIndexedAuto(spark, base, q,
      k = 3, nProbe = 3))
    val rebuilt = tuples(Similarity.ivfTopKWith(cents,
      pts.filter(col("vec_id") =!= 2L), q, k = 3, nProbe = 3))
    assert(served.nonEmpty && served == rebuilt,
      "patched index must serve the rebuild's exact ranking")
    assert(Takedown.ivfTakedown(spark, base,
      idsDf(Seq(2L), "vec_id")) == ((0L, 0L)), "rerun no-op")
  }

  test("pqTakedown: the taken-down vector's codes vanish, codebook " +
       "sidecar and other buckets untouched") {
    import spark.implicits._
    val base = scratch("pq")
    // 4-dim vectors, 2 subspaces, 2 codewords each
    val books = Seq(
      Seq(Seq(0.0, 0.0), Seq(8.0, 0.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 8.0)))
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Seq(7.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f, 9.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity.pqWriteIndex(pts, books, base, nBuckets = 4)
    val b3Before = listing(s"$base/pq_bucket=3")
    val (rows, parts) = Takedown.pqTakedown(spark, base,
      idsDf(Seq(2L), "vec_id"))
    assert((rows, parts) == ((1L, 1L)))
    assert(!new java.io.File(s"$base/pq_bucket=2").exists())
    assert(listing(s"$base/pq_bucket=3") == b3Before)
    val left = spark.read.parquet(base).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 3L))
  }

  test("cmsTakedown: the folded layer equals the sketch of the " +
       "remaining corpus cell-for-cell; foreign ids fail fast " +
       "before any mutation") {
    import spark.implicits._
    val corpusDir = scratch("cms_corpus")
    val sketchDir = scratch("cms_sketch")
    val b0 = Seq((1L, "apple banana apple"), (2L, "cherry cherry"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "banana date"), (4L, "apple egg egg egg"))
      .toDF("doc_id", "text")
    b0.coalesce(1).write.parquet(s"$corpusDir/ingest_batch=0")
    b1.coalesce(1).write.parquet(s"$corpusDir/ingest_batch=1")
    graft.streaming.IngestStream.cmsBatch(b0, sketchDir, batchId = 0L)
    graft.streaming.IngestStream.cmsBatch(b1, sketchDir, batchId = 1L)
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val n = Takedown.cmsTakedown(spark, sketchDir, corpusDir,
      idsDf(Seq(2L, 4L), "doc_id"))
    assert(n == 2L)
    val got = cells(
      graft.streaming.IngestStream.cmsLayerRead(spark, sketchDir))
    val want = cells(HeavyHitters.cmsSketch(
      b0.union(b1).filter(!col("doc_id").isin(2L, 4L))
        .select(explode(TextAnalysis.tokens(col("text")))
          .as("token"))))
    assert(got == want,
      s"layer minus ids must equal sketch of remaining corpus:\n" +
        s"got  $got\nwant $want")
    // the layer is now one compact: a second takedown still folds
    assert(Takedown.cmsTakedown(spark, sketchDir, corpusDir,
      idsDf(Seq(1L), "doc_id")) == 1L)
    assert(cells(graft.streaming.IngestStream.cmsLayerRead(spark,
        sketchDir)) == cells(HeavyHitters.cmsSketch(b1
      .filter(col("doc_id") === 3L)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token")))),
      "a takedown over a one-compact layer subtracts too")
    // a second takedown of the same ids is a no-op (the corpus layer
    // still holds them here — cmsTakedown is ordered BEFORE corpus
    // takedown — so guard with a fresh foreign-corpus dir instead)
    val foreignDir = scratch("cms_foreign")
    Seq((9L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$foreignDir/ingest_batch=0")
    val ex = intercept[IllegalArgumentException] {
      Takedown.cmsTakedown(spark, sketchDir, foreignDir,
        idsDf(Seq(9L), "doc_id"))
    }
    assert(ex.getMessage.contains("never sketched"),
      s"foreign ids must fail fast: ${ex.getMessage}")
  }

  test("layerRetention: pre-cutoff batches and entirely-pre-cutoff " +
       "compacts drop whole; survivors byte-identical; straddling " +
       "compact fails fast BEFORE any delete; rerun no-op") {
    import spark.implicits._
    val dir = scratch("retention")
    def part(b: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/ingest_batch=$b")
    part(0L, Seq((1L, "a")))
    part(1L, Seq((2L, "b"), (3L, "c")))
    graft.streaming.IngestStream.ingestLayerCompact(spark, dir,
      watermark = 1L) // compact -2 covers batches <= 1
    part(2L, Seq((4L, "d")))
    part(3L, Seq((5L, "e")))
    val b3Before = listing(s"$dir/ingest_batch=3")
    // straddle: keepFrom=1 splits the compact's coverage (0 kept out,
    // 1 kept in) — must refuse with nothing deleted
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.IngestStream.layerRetention(spark, dir,
        keepFrom = 1L)
    }
    assert(ex.getMessage.contains("straddling"), ex.getMessage)
    assert(new java.io.File(s"$dir/ingest_batch=-2").exists(),
      "straddle guard must fire before any delete")
    // aligned cutoff: compact (covers <= 1 < 2) drops whole, 2-3 stay
    val (parts, rows) = graft.streaming.IngestStream
      .layerRetention(spark, dir, keepFrom = 2L)
    assert((parts, rows) == ((1L, 3L)), s"audit: $parts/$rows")
    assert(!new java.io.File(s"$dir/ingest_batch=-2").exists())
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(4L, 5L))
    assert(listing(s"$dir/ingest_batch=3") == b3Before,
      "surviving partitions keep their files byte-for-byte")
    assert(graft.streaming.IngestStream.layerRetention(spark, dir,
      keepFrom = 2L) == ((0L, 0L)), "rerun no-op")
  }

  test("layerRetention lands a committed compaction swap before it " +
       "ages out, so no pre-cutoff mass comes back; layerReadAsOf " +
       "refuses while that swap is pending") {
    import spark.implicits._
    val dir = scratch("retention_pending")
    def part(b: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/ingest_batch=$b")
    part(0L, Seq((1L, "a")))
    part(1L, Seq((2L, "b"), (3L, "c")))
    part(2L, Seq((4L, "d")))
    // a compaction at watermark 1 that crashed after its commit point:
    // the fold of batches 0-1 staged with its marker, sources still live
    spark.read.parquet(s"$dir/ingest_batch=0", s"$dir/ingest_batch=1")
      .coalesce(1).write
      .parquet(s"$dir/_takedown_tmp/ingest_batch=-2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_takedown_tmp/_TAKEDOWN_COMMIT"),
      "1 ingest_batch=-2\n0 ingest_batch=0\n0 ingest_batch=1\n")
    val ex = intercept[IllegalStateException] {
      graft.streaming.IngestStream.layerReadAsOf(spark, dir, asOf = 2L)
    }
    assert(ex.getMessage.contains(dir), ex.getMessage)
    val (parts, rows) = graft.streaming.IngestStream
      .layerRetention(spark, dir, keepFrom = 2L)
    assert((parts, rows) == ((1L, 3L)), s"audit: $parts/$rows")
    graft.llm.Swap.completePending(spark, dir)
    spark.catalog.refreshByPath(dir)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(4L),
      "no pre-cutoff mass survives the landed swap")
  }

  test("layerReadAsOf: horizon excludes later batches; a compact " +
       "folded past the horizon fails fast; expandToClusters keeps " +
       "singleton requests") {
    import spark.implicits._
    val dir = scratch("asof")
    def part(b: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/ingest_batch=$b")
    part(0L, Seq((1L, "a")))
    part(1L, Seq((2L, "b")))
    part(2L, Seq((3L, "c")))
    graft.streaming.IngestStream.ingestLayerCompact(spark, dir,
      watermark = 0L) // compact -1 covers batch 0 only
    val asOf1 = graft.streaming.IngestStream
      .layerReadAsOf(spark, dir, asOf = 1L)
    assert(asOf1.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), "horizon 1 = batch 0 (compacted) + batch 1")
    assert(asOf1.columns.contains("ingest_batch"),
      "basePath read must keep the partition column")
    // a compact past the horizon folded post-horizon mass in
    graft.streaming.IngestStream.ingestLayerCompact(spark, dir,
      watermark = 2L)
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.IngestStream.layerReadAsOf(spark, dir, asOf = 1L)
    }
    assert(ex.getMessage.contains("past the asOf"), ex.getMessage)
    // singleton expansion: ids with no near-dups pass through
    val comps = Seq((10L, 10L), (11L, 10L)).toDF("id", "component")
    val out = Takedown.expandToClusters(
        Seq(11L, 99L).toDF("doc_id"), comps)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(10L, 11L, 99L),
      s"hit component expands, singleton 99 survives: $out")
  }

  test("layerDoctor: read-only classification of every protocol " +
       "artifact — committed vs uncommitted temps, partition " +
       "families, compact coverage, delta depth, sidecars; nothing " +
       "mutated") {
    import spark.implicits._
    val dir = scratch("doctor")
    def rows(d: String) = Takedown.layerDoctor(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows(dir) == Set(("layer", "absent")))
    // a live layer with a compact + a committed takedown tmp + an
    // uncommitted patch tmp + a compaction leftover + a delta
    Seq((1L, "a")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/ingest_batch=-2")
    Seq((2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/ingest_batch=2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_takedown_tmp"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_takedown_tmp/_TAKEDOWN_COMMIT"),
      "0 ingest_batch=2\n".getBytes("UTF-8"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_patch_tmp"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_compact_tmp_5"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_delta/ingest_batch=0"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_centroids.txt"),
      "0 0 1.0\n".getBytes("UTF-8"))
    val report = Takedown.layerDoctor(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val byArtifact = report.map(t => t._1 -> t._2).toMap
    assert(byArtifact("takedown-swap") == "pending-committed")
    assert(byArtifact("index-patch") == "uncommitted-garbage")
    assert(byArtifact("compaction-temp") == "uncommitted-garbage")
    assert(byArtifact("delta-segment") == "present")
    assert(byArtifact("centroid-sidecar") == "present")
    val batchDetail = report.find(_._1 == "batch-partitions").get._3
    assert(batchDetail.contains("1 live") &&
      batchDetail.contains("coverage <= 1"), batchDetail)
    assert(report.find(_._1 == "compaction-temp").get._3
      .contains("earlier build"))
    // a compact without a sources marker is this build's normal
    // state: no finding about it
    assert(!byArtifact.contains("compact-sources-markers"))
    assert(!byArtifact.contains("legacy-compact"))
    // the doctor mutated NOTHING: the committed tmp is still there
    // for the next maintenance entry to complete
    assert(new java.io.File(s"$dir/_takedown_tmp").exists() &&
      new java.io.File(s"$dir/ingest_batch=2").exists())
  }

  test("a committed takedown lands BEFORE a subsequent ivf patch " +
       "reads the index — taken-down rows cannot resurrect") {
    import spark.implicits._
    val base = scratch("interplay")
    def pad(v: Seq[Double]) = v.padTo(64, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)))
    val v1 = Seq(1.0f, 0.0f).padTo(64, 0.0f)
    val v2 = Seq(7.0f, 0.0f).padTo(64, 0.0f)
    val pts = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts, cents, base)
    // committed-but-unswapped takedown of id 2 (cell 1 empties)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/_takedown_tmp"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/_takedown_tmp",
        "_TAKEDOWN_COMMIT"),
      "0 cell_id=1\n".getBytes("UTF-8"))
    // a patch that would move nothing still must land the takedown
    assert(Similarity.ivfPatchIndex(spark, base, cents) == ((0L, 0L)))
    val left = spark.read.parquet(base).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L),
      s"patch entry must complete the pending takedown first: $left")
  }

  // shared PQ fixture for the membership-contract tests: 4-dim
  // vectors, 2 subspaces x 2 codewords; newBooks swaps the codewords
  // so EVERY row's codes flip and every occupied bucket is affected
  private val pqBooks = Seq(
    Seq(Seq(0.0, 0.0), Seq(8.0, 0.0)),
    Seq(Seq(0.0, 0.0), Seq(0.0, 8.0)))
  private val pqBooksSwapped = Seq(
    Seq(Seq(8.0, 0.0), Seq(0.0, 0.0)),
    Seq(Seq(0.0, 8.0), Seq(0.0, 0.0)))
  private def pqPts = {
    import spark.implicits._
    Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Seq(7.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f, 9.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  test("pqPatchIndex: a COMPLETED pqTakedown is not resurrected by a " +
       "later patch called with the original (stale) corpus") {
    val base = scratch("pq_patch_membership")
    Similarity.pqWriteIndex(pqPts, pqBooks, base, nBuckets = 4)
    assert(Takedown.pqTakedown(spark, base,
      idsDf(Seq(2L), "vec_id")) == ((1L, 1L)))
    // the caller still holds the pre-takedown corpus snapshot: the
    // rewrite must follow the INDEX's membership, not the corpus's
    val (moved, parts) = Similarity.pqPatchIndexAuto(spark, base, pqPts,
      pqBooksSwapped, nBuckets = 4)
    assert(moved == 2L && parts == 2L,
      s"only standing rows re-encode, got ($moved, $parts)")
    val left = spark.read.parquet(base).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 3L), s"taken-down id resurrected: $left")
  }

  test("pqPatchIndex fails fast (before any mutation) when the corpus " +
       "cannot cover an affected bucket's standing rows") {
    import spark.implicits._
    val base = scratch("pq_patch_uncovered")
    Similarity.pqWriteIndex(pqPts, pqBooks, base, nBuckets = 4)
    val before = listing(s"$base/pq_bucket=3")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqPatchIndexAuto(spark, base,
        pqPts.filter($"vec_id" =!= 3L), pqBooksSwapped, nBuckets = 4)
    }
    assert(e.getMessage.contains("missing from the supplied corpus"))
    assert(listing(s"$base/pq_bucket=3") == before,
      "failed patch must leave the index byte-identical")
    assert(spark.read.parquet(base).count() == 3L)
  }

  /** (has a SQL execution id, stage names) of every job started while
    * `body` runs. */
  private def jobsDuring(body: => Unit): Seq[(Boolean, Seq[String])] =
    JobWatch.during(spark)(body).map(j => (j.inSql, j.stages))

  /** Jobs outside any SQL execution whose stage is a parquet read:
    * schema-inference jobs. */
  private def inferenceJobs(jobs: Seq[(Boolean, Seq[String])]) =
    jobs.filter { case (sql, stages) =>
      !sql && stages.exists(_.startsWith("parquet at "))
    }

  test("ivfTakedown and bm25Takedown start no parquet schema-" +
       "inference job") {
    import spark.implicits._
    val base = scratch("jobs_ivf")
    def pad(v: Seq[Double]) = v.padTo(8, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)))
    def pts(ids: Seq[Long]) = ids.map(i =>
      (i, Seq((i % 11).toFloat, 0.0f).padTo(8, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts(1L to 6L), cents, base)
    Similarity.ivfAppendBatch(spark, base, pts(7L to 9L), batchId = 0L)
    // the guard can see an inference job when one runs
    assert(inferenceJobs(jobsDuring(spark.read.parquet(base))).nonEmpty,
      "a plain schema-less read must show up as an inference job")
    val ivfJobs = jobsDuring {
      assert(Takedown.ivfTakedown(spark, base,
        idsDf(Seq(2L, 8L), "vec_id")) == ((2L, 2L)))
    }
    assert(ivfJobs.nonEmpty && inferenceJobs(ivfJobs).isEmpty,
      s"ivfTakedown inference jobs: ${inferenceJobs(ivfJobs)}")
    val bm25 = scratch("jobs_bm25")
    val corpus = docs.filter(col("doc_id") < 60)
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 === 0), bm25, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 =!= 0), bm25, batchId = 1L)
    val bm25Jobs = jobsDuring {
      val (n, parts) = Takedown.bm25Takedown(spark, bm25,
        corpus.filter(col("doc_id") % 7 === 3).select("doc_id"))
      assert(n > 0L && parts == 2L, s"audit $n/$parts")
    }
    assert(bm25Jobs.nonEmpty && inferenceJobs(bm25Jobs).isEmpty,
      s"bm25Takedown inference jobs: ${inferenceJobs(bm25Jobs)}")
  }

  test("duplicated takedown ids: each row is removed once and " +
       "takedownPreview counts it once") {
    import spark.implicits._
    val dir = scratch("dup_ids")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/ingest_batch=0")
    Seq((3L, "c"), (4L, "d")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/ingest_batch=1")
    val ids = idsDf(Seq(2L, 2L, 3L, 3L, 3L, 999L), "doc_id")
    val preview = Takedown.takedownPreview(spark, dir, ids, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(preview == Set((0L, 1L, 1L), (1L, 1L, 1L)),
      s"preview must count each removed row once: $preview")
    assert(Takedown.layerTakedown(spark, dir, ids, "doc_id") ==
      ((2L, 2L)))
    val left = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(1L, 4L), s"left: $left")
    val base = scratch("dup_ids_ivf")
    def pad(v: Seq[Double]) = v.padTo(8, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)))
    val pts = (1L to 4L).map(i =>
      (i, Seq((i * 3).toFloat, 0.0f).padTo(8, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts, cents, base)
    assert(Takedown.ivfTakedown(spark, base,
      idsDf(Seq(4L, 4L, 4L), "vec_id")) == ((1L, 1L)))
    assert(spark.read.parquet(base).count() == 3L)
  }

  test("ivfTakedown over a COMMITTED root compaction swap (its " +
       "marker deletes _delta last): recovery lands before the " +
       "concurrent scrubs; the layer equals a rebuild over corpus " +
       "MINUS ids with no leftovers") {
    import spark.implicits._
    val base = scratch("crash_compact")
    val twin = scratch("crash_compact_twin")
    def pad(v: Seq[Double]) = v.padTo(8, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)),
      pad(Seq(100.0, 100.0)))
    def pts(ids: Seq[Long]) = ids.map(i =>
      (i, Seq((i % 12).toFloat, 0.0f).padTo(8, 0.0f)))
      .toDF("vec_id", "embedding")
    val mainIds = 1L to 8L
    val deltaIds = 9L to 12L
    Seq(base, twin).foreach { d =>
      Similarity.ivfWriteIndex(pts(mainIds), cents, d)
      Similarity.ivfAppendBatch(spark, d, pts(deltaIds), batchId = 0L)
    }
    // the state a compaction crash leaves between its commit marker
    // and its swap: every fresh cell staged under the root
    // `_takedown_tmp`, the marker's last entry deleting `_delta`
    assert(Similarity.ivfCompactDelta(spark, twin)._1 == 4L)
    val cells = new java.io.File(twin).list()
      .filter(_.startsWith("cell_id=")).sorted.toSeq
    val tmp = s"$base/_takedown_tmp"
    cells.foreach { c =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$twin/$c"), new java.io.File(s"$tmp/$c"))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_TAKEDOWN_COMMIT"),
      (cells.map(c => s"1 $c") :+ s"0 _delta")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    // one id taken down from main, one from the (absorbed) delta
    val ids = Seq(3L, 10L)
    val (rows, _) = Takedown.ivfTakedown(spark, base,
      idsDf(ids, "vec_id"))
    assert(rows == 2L, s"rows removed: $rows")
    val rebuilt = scratch("crash_compact_rebuilt")
    Similarity.ivfWriteIndex(
      pts((mainIds ++ deltaIds).filterNot(ids.contains)), cents, rebuilt)
    def content(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("cell_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(content(base) == content(rebuilt),
      s"${content(base)} vs ${content(rebuilt)}")
    val findings = Takedown.layerDoctor(spark, base).collect()
      .map(_.getString(0)).toSet
    assert(findings == Set("ivf-cells", "centroid-sidecar"),
      s"leftovers: $findings")
  }

  test("ivfTakedown: a committed _delta tmp of an earlier build's " +
       "separate delta scrub is replayed on entry, and a _delta that " +
       "holds no batch is skipped by the next takedowns and cleared " +
       "by compaction") {
    import spark.implicits._
    val base = scratch("delta_emptied")
    def pad(v: Seq[Double]) = v.padTo(8, 0.0)
    val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)))
    def pts(ids: Seq[Long]) = ids.map(i =>
      (i, Seq((i % 11).toFloat, 0.0f).padTo(8, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts(1L to 6L), cents, base)
    Similarity.ivfAppendBatch(spark, base, pts(7L to 9L), batchId = 0L)
    // committed, not yet swapped: the delta's only batch emptied
    val tmp = new java.io.File(s"$base/_delta/_takedown_tmp")
    tmp.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp.getPath, "_TAKEDOWN_COMMIT"),
      "0 ingest_batch=0\n".getBytes("UTF-8"))
    assert(Takedown.ivfTakedown(spark, base,
      idsDf(Seq(2L, 9L), "vec_id")) == ((1L, 1L)))
    assert(!tmp.exists() &&
      new java.io.File(s"$base/_delta").list().isEmpty)
    assert(Takedown.ivfTakedown(spark, base,
      idsDf(Seq(3L, 8L), "vec_id")) == ((1L, 1L)))
    assert(spark.read.parquet(base).select("vec_id").as[Long]
      .collect().toSet == Set(1L, 4L, 5L, 6L))
    assert(Similarity.ivfCompactDelta(spark, base) == ((0L, 0L)))
    assert(!new java.io.File(s"$base/_delta").exists())
  }
}
