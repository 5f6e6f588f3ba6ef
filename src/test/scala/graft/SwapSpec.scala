package graft

import graft.llm._
import graft.streaming.IngestStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[Swap]] protocol proven by crash-point enumeration: every
  * maintenance operation that commits through it runs against a fresh
  * copy of a tiny fixture on [[CrashFileSystem]], crashing at its k-th
  * mutating call for every k until the armed run completes. After
  * [[Swap.completePending]] on each swap root, every root must equal
  * its before state or the completed run's after state (main rows,
  * delta rows and model sidecar judged together per root, so an index
  * never pairs new partitions with the old sidecar or the reverse),
  * the layer doctor must find no protocol leftovers, and rerunning the
  * interrupted operation must give exactly the after state. Before that
  * recovery, each serve of the layer must either refuse it, naming a
  * swap root, or answer as it does once recovery has run (a serve never
  * reads a half-swapped root): the before or after answer whenever
  * recovery leaves every root on one side. A dense takedown scrubs an
  * index's main partitions and its `_delta` segment under one marker;
  * the spec judges the two as separate roots, and recovery must never
  * leave them on different sides (no "split" crash point). */
class SwapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.builder(4, "swap-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val base: String = {
    CrashFileSystem.register(spark)
    val d = s"${graft.Scratch.root}/swap_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  // crash runs in flight at once (one per core of a 4-core box)
  private val Parallel = 4

  /** One maintenance operation under enumeration: `build` writes its
    * fixture, `run` is the operation, `roots` maps each swap root
    * (relative to the layer dir) to the components judged together
    * under it (parquet dirs, or `.txt` sidecar files), `serve` answers
    * a fixed query set from the layer. */
  private case class Op(name: String, build: String => Unit,
                        run: String => Unit,
                        roots: Seq[(String, Seq[String])],
                        serve: Option[String => Seq[String]])

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** A serve's answer, or the message of its refusal. */
  private def answer(op: Op, dir: String)
      : Option[Either[String, Seq[String]]] =
    op.serve.map { serve =>
      try Right(serve(dir))
      catch { case e: IllegalStateException => Left(e.getMessage) }
    }

  private type State = Seq[(String, Seq[(String, Seq[String])])]

  private def at(dir: String, rel: String) =
    if (rel.isEmpty) dir else s"$dir/$rel"

  private def component(dir: String, rel: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(at(dir, rel))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else if (rel.endsWith(".txt"))
      Writes.readUtf8(fs, p).split("\n").toSeq.sorted
    else if (!fs.listStatus(p).exists(_.getPath.getName.contains("=")))
      Nil
    else Writes.readParquet(spark, p.toString).collect().map(_.toSeq
      .map {
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
  }

  private def snapshot(op: Op, dir: String): State =
    op.roots.map { case (root, comps) =>
      root -> comps.map(c => c -> component(dir, c))
    }

  private val protocolArtifacts =
    Set("takedown-swap", "index-patch", "compaction-temp", "legacy-compact")

  private def copy(from: String, to: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(to))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))
  }

  private def live(local: String) = CrashFileSystem.uri("live", local)

  /** An operation's uncrashed run: its mutating-call count, and the
    * layer's state and serve answer before and after it. */
  private case class Ref(n: Long, before: State, after: State,
                         beforeAnswer: Option[Either[String, Seq[String]]],
                         afterAnswer: Option[Either[String, Seq[String]]])

  /** Build `op`'s fixture and run it once uncrashed, counting its
    * mutating calls. */
  private def prepare(i: Int, op: Op): Ref = {
    val pristine = s"$base/${op.name}/pristine"
    op.build(live(pristine))
    val ref = s"$base/${op.name}/ref"
    copy(pristine, ref)
    val domain = s"op$i-ref"
    CrashFileSystem.arm(domain, Long.MaxValue)
    op.run(CrashFileSystem.uri(domain, ref))
    Ref(CrashFileSystem.calls(domain), snapshot(op, live(pristine)),
      snapshot(op, live(ref)), answer(op, live(pristine)),
      answer(op, live(ref)))
  }

  /** Run `op` on a fresh fixture copy, crashing at its k-th mutating
    * call, then recover and check; returns whether it crashed, whether
    * the serve refused the crashed layer, and whether recovery left its
    * roots on different sides. */
  private def crashAt(i: Int, op: Op, k: Long, ref: Ref)
      : (Boolean, Boolean, Boolean) = {
    val (before, after) = (ref.before, ref.after)
    val local = s"$base/${op.name}/k$k"
    copy(s"$base/${op.name}/pristine", local)
    val domain = s"op$i-k$k"
    CrashFileSystem.arm(domain, k)
    val failure =
      try { op.run(CrashFileSystem.uri(domain, local)); None }
      catch { case e: Exception => Some(e) }
    val crashed = CrashFileSystem.crashed(domain)
    failure.filterNot(_ => crashed).foreach(throw _)
    // the crashed domain stays dead, straggling task threads
    // included: recovery and checks go through the live one
    val dir = live(local)
    val served = answer(op, dir)
    op.roots.foreach { case (r, _) =>
      Swap.completePending(spark, at(dir, r)) }
    val got = snapshot(op, dir)
    op.roots.indices.foreach { j =>
      val (root, state) = got(j)
      assert(state == before(j)._2 || state == after(j)._2,
        s"${op.name}: crash point $k left swap root '$root' in " +
          s"neither its before nor its after state: $state")
    }
    served.foreach {
      case Left(msg) =>
        assert(op.roots.exists { case (r, _) =>
          msg.contains(s"layer ${at(dir, r)} has a committed swap") },
          s"${op.name}: crash point $k: the refusal names no swap " +
            s"root: $msg")
      case Right(pre) =>
        // recovery never changes what the serve saw; with every root
        // recovered to one side, that is the side's answer
        val recovered = answer(op, dir).get
        assert(recovered == Right(pre), s"${op.name}: crash point $k " +
          s"served $pre before recovery, $recovered after it")
        if (got == before || got == after)
          assert(Some(Right(pre)) == (if (got == before)
            ref.beforeAnswer else ref.afterAnswer),
            s"${op.name}: crash point $k served a third answer: $pre")
    }
    op.roots.foreach { case (r, _) =>
      val left = Takedown.layerDoctor(spark, at(dir, r)).collect()
        .map(_.getString(0)).filter(protocolArtifacts)
      assert(left.isEmpty,
        s"${op.name}: crash point $k left ${left.toSeq} under '$r'")
    }
    op.run(dir)
    assert(snapshot(op, dir) == after,
      s"${op.name}: rerun after crash point $k")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
    (crashed, served.exists(_.isLeft), got != before && got != after)
  }

  private def idsDf(ids: Seq[Long], c: String): DataFrame = {
    import spark.implicits._
    ids.toDF(c)
  }

  private def pad(v: Seq[Double]) = v.padTo(8, 0.0)
  private val cents = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)),
    pad(Seq(100.0, 100.0)))
  private def vecs(pts: Seq[(Long, Double, Double)]): DataFrame = {
    import spark.implicits._
    pts.map { case (i, x, y) =>
      (i, Seq(x.toFloat, y.toFloat).padTo(8, 0.0f))
    }.toDF("vec_id", "embedding")
  }
  // cells 0, 1 and 2 hold two vectors each; the delta adds one to
  // cells 0 and 1
  private val mainPts = Seq((1L, 1.0, 0.0), (2L, 2.0, 0.0),
    (3L, 7.0, 0.0), (4L, 9.0, 0.0), (5L, 100.0, 99.0),
    (6L, 101.0, 100.0))
  private val deltaPts = Seq((7L, 3.0, 0.0), (8L, 11.0, 0.0))
  private def ivfIndex(withDelta: Boolean)(dir: String): Unit = {
    Similarity.ivfWriteIndex(vecs(mainPts), cents, dir)
    if (withDelta)
      Similarity.ivfAppendBatch(spark, dir, vecs(deltaPts), batchId = 0L)
  }
  private val ivfRoot = "" -> Seq("", "_centroids.txt")
  // every cell probed and k above the row count: any row change moves
  // the answer
  private def ivfServe(dir: String): Seq[String] = rows(
    Similarity.ivfTopKIndexedAuto(spark, dir,
      vecs(Seq((100L, 2.0, 0.0), (101L, 10.0, 1.0), (102L, 99.0, 99.0)))
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec")),
      k = 10, nProbe = 3))

  private val pqBooks = Seq(
    Seq(Seq(0.0, 0.0), Seq(8.0, 0.0)),
    Seq(Seq(0.0, 0.0), Seq(0.0, 8.0)))
  private def pqPts = {
    import spark.implicits._
    Seq((1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Seq(7.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f, 9.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }
  private def pqServe(dir: String): Seq[String] = {
    import spark.implicits._
    rows(Similarity.pqTopKIndexedAuto(spark, dir,
      Seq((100L, Seq(2.0f, 0.0f, 1.0f, 0.0f)),
        (101L, Seq(6.0f, 0.0f, 8.0f, 0.0f))).toDF("query_id", "query_vec"),
      k = 3))
  }
  private def pqIndex(dir: String): Unit =
    Similarity.pqWriteIndex(pqPts, pqBooks, dir, nBuckets = 4)
  // buckets 1, 2 and 3 hold one row each; the delta batch holds two
  private def pqIndexWithDelta(dir: String): Unit = {
    import spark.implicits._
    pqIndex(dir)
    Similarity.pqAppendBatch(spark, dir,
      Seq((4L, Seq(9.0f, 0.0f, 0.0f, 1.0f)),
        (5L, Seq(0.0f, 1.0f, 8.0f, 0.0f))).toDF("vec_id", "embedding"),
      batchId = 0L, nBuckets = 4)
  }
  private def pqPatch(newBooks: Seq[Seq[Seq[Double]]])(dir: String)
      : Unit =
    Similarity.pqPatchIndexAuto(spark, dir, pqPts, newBooks,
      nBuckets = 4)

  // batch 0 holds docs 1-3, batch 1 docs 4-6; `drop` leaves docs out
  private def bm25Layer(drop: Long*)(dir: String): Unit = {
    import spark.implicits._
    val docs = Seq((1L, "red fox runs"), (2L, "blue fox sleeps"),
      (3L, "red hen"), (4L, "old blue car"), (5L, "red car runs"),
      (6L, "hen sleeps")).toDF("doc_id", "text")
      .filter(!col("doc_id").isin(drop: _*))
    TextAnalysis.bm25PostingsBatch(
      docs.filter(col("doc_id") <= 3L), dir, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(
      docs.filter(col("doc_id") > 3L), dir, batchId = 1L)
  }
  private def bm25Serve(dir: String): Seq[String] = {
    import spark.implicits._
    rows(TextAnalysis.bm25TopKFromPostings(spark, dir,
      Seq((100L, "red fox"), (101L, "blue car"), (102L, "hen sleeps"))
        .toDF("query_id", "text"), k = 6))
  }

  private val ops = Seq(
    Op("layerTakedown", { dir =>
      import spark.implicits._
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L),
          (5L, "e", 2L)).toDF("doc_id", "text", "ingest_batch")
        .write.partitionBy("ingest_batch").parquet(dir)
    }, { dir =>
      // batch 0 rewritten, batch 1 emptied, batch 2 untouched
      Takedown.layerTakedown(spark, dir, idsDf(Seq(2L, 3L), "doc_id"),
        "doc_id")
    }, Seq("" -> Seq("")), None),
    Op("bm25Takedown", bm25Layer(), { dir =>
      Takedown.bm25Takedown(spark, dir, idsDf(Seq(2L, 5L), "doc_id"))
    }, Seq("" -> Seq("postings", "stats")), Some(bm25Serve)),
    Op("ingestLayerCompact", bm25Layer(), { dir =>
      // postings batches 0 and 1 fold into ingest_batch=-2
      IngestStream.ingestLayerCompact(spark,
        s"$dir/postings", watermark = 1L)
    }, Seq("postings" -> Seq("postings")), Some(bm25Serve)),
    Op("cmsCompact", { dir =>
      import spark.implicits._
      Seq("a a b c", "b c d e", "f a").zipWithIndex.foreach {
        case (text, b) => IngestStream.cmsBatch(
          Seq((b.toLong, text)).toDF("doc_id", "text"), dir,
          batchId = b.toLong)
      }
    }, { dir =>
      // batches 0 and 1 fold into ingest_batch=-2, batch 2 stays
      IngestStream.cmsCompact(spark, dir, watermark = 1L)
    }, Seq("" -> Seq("")), Some(dir =>
      rows(IngestStream.cmsLayerRead(spark, dir)))),
    Op("ivfTakedown", ivfIndex(withDelta = true), { dir =>
      // main cell 0 rewritten, cell 1 emptied, delta batch rewritten
      Takedown.ivfTakedown(spark, dir,
        idsDf(Seq(2L, 3L, 4L, 8L), "vec_id"))
    }, Seq(ivfRoot, "_delta" -> Seq("_delta")), Some(ivfServe)),
    Op("ivfCompactDelta", ivfIndex(withDelta = true), { dir =>
      Similarity.ivfCompactDelta(spark, dir)
    }, Seq("" -> Seq("", "_delta", "_centroids.txt")), Some(ivfServe)),
    Op("ivfPatchIndex", ivfIndex(withDelta = false), { dir =>
      // rows 3 and 4 move to cell 0, cell 1 empties
      Similarity.ivfPatchIndex(spark, dir, Seq(pad(Seq(8.0, 0.0)),
        pad(Seq(20.0, 0.0)), pad(Seq(100.0, 100.0))))
    }, Seq(ivfRoot), Some(ivfServe)),
    Op("ivfPatchIndex_sidecar_only", ivfIndex(withDelta = false), {
      dir =>
        // no row changes cell: only the centroid sidecar advances
        Similarity.ivfPatchIndex(spark, dir, Seq(pad(Seq(0.0, 0.0)),
          pad(Seq(10.0, 0.0)), pad(Seq(100.0, 101.0))))
    }, Seq(ivfRoot), Some(ivfServe)),
    Op("pqPatchIndexAuto", pqIndex, pqPatch(Seq(
      // every codeword pair swapped: every row re-codes
      Seq(Seq(8.0, 0.0), Seq(0.0, 0.0)),
      Seq(Seq(0.0, 8.0), Seq(0.0, 0.0)))),
      Seq("" -> Seq("", "_books.txt")), Some(pqServe)),
    Op("pqTakedown", pqIndexWithDelta, { dir =>
      // main bucket 2 emptied, delta batch rewritten
      Takedown.pqTakedown(spark, dir, idsDf(Seq(2L, 5L), "vec_id"))
    }, Seq("" -> Seq("", "_books.txt"), "_delta" -> Seq("_delta")),
      Some(pqServe)),
    Op("pqPatchIndexAuto_sidecar_only", pqIndex, pqPatch(Seq(
      // codewords nudged, no row's codes change
      Seq(Seq(0.0, 0.0), Seq(8.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 9.0)))),
      Seq("" -> Seq("", "_books.txt")), Some(pqServe)))

  test("crash-point enumeration: every maintenance swap recovers to " +
       "its before or after state at every crash point, leaves no " +
       "protocol artifact, and reruns to the after state") {
    val t0 = System.nanoTime()
    val indexed = ops.zipWithIndex
    val prepared = graft.task.Fanout.all(spark,
      indexed.map { case (op, i) => () => prepare(i, op) }, Parallel)
    indexed.zip(prepared).foreach { case ((op, _), ref) =>
      assert(ref.before != ref.after,
        s"${op.name}: the fixture must change")
      // clear, stage, marker, at least one swap step, final delete
      assert(ref.n >= 5L, s"${op.name}: only ${ref.n} mutating calls")
    }
    // every crash point 1..n, then n + 1, where the run must complete
    val runs = indexed.zip(prepared).flatMap { case ((op, i), ref) =>
      (1L to ref.n + 1).map(k => () =>
        (op.name, k, ref.n, crashAt(i, op, k, ref)))
    }
    val results = graft.task.Fanout.all(spark, runs, Parallel)
    results.foreach { case (name, k, n, (crashed, _, split)) =>
      assert(crashed == (k <= n), s"$name: the run armed at $k of " +
        s"$n ${if (crashed) "crashed" else "completed"}")
      assert(!split, s"$name: crash point $k left its roots on " +
        "different sides after recovery")
    }
    info(indexed.zip(prepared).map { case ((op, _), ref) =>
      val refused = results.count { case (name, _, _, (_, r, _)) =>
        name == op.name && r }
      s"${op.name} ${ref.n} (serve refused $refused)"
    }.mkString("crash points: ", ", ", "") +
      f"; ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("a pqPatchIndexAuto after a patch that crashed between its " +
       "bucket renames and its _books.txt entry diffs against the " +
       "books the buckets hold: it equals a fresh build") {
    // every row re-codes from pqBooks to b2 and from b2 to b3; no row
    // re-codes from pqBooks to b3
    val b2 = Seq(Seq(Seq(8.0, 0.0), Seq(0.0, 0.0)),
      Seq(Seq(0.0, 8.0), Seq(0.0, 0.0)))
    val b3 = Seq(Seq(Seq(0.0, 0.0), Seq(8.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 9.0)))
    val dir = s"$base/pq_patch_after_crash"
    val (ref, fresh) = (s"$dir-ref", s"$dir-fresh")
    Seq(dir, ref).foreach(d => pqIndex(live(d)))
    Similarity.pqWriteIndex(pqPts, b3, live(fresh), nBuckets = 4)
    // the uncrashed patch's last three mutating calls are the live
    // _books.txt delete, the staged one's rename in and the tmp delete
    CrashFileSystem.arm("pq-after-crash-ref", Long.MaxValue)
    pqPatch(b2)(CrashFileSystem.uri("pq-after-crash-ref", ref))
    CrashFileSystem.arm("pq-after-crash",
      CrashFileSystem.calls("pq-after-crash-ref") - 2)
    intercept[Exception] {
      pqPatch(b2)(CrashFileSystem.uri("pq-after-crash", dir))
    }
    assert(CrashFileSystem.crashed("pq-after-crash"))
    val staged = new java.io.File(s"$dir/_takedown_tmp").list().toSet
    assert(staged("_TAKEDOWN_COMMIT") && staged("_books.txt") &&
      !staged.exists(_.startsWith("pq_bucket=")),
      s"every bucket renamed in, the books entry still staged: $staged")
    pqPatch(b3)(live(dir))
    assert(component(live(dir), "") == component(live(fresh), ""),
      "every bucket holds its codes under b3")
    assert(component(live(dir), "_books.txt") ==
      component(live(fresh), "_books.txt"))
    assert(pqServe(live(dir)) == pqServe(live(fresh)))
  }

  test("a BM25 subdir compaction refuses while the enclosing layer " +
       "has a committed takedown pending, naming it; once that lands, " +
       "compaction and the serve equal a fresh rebuild") {
    val dir = s"$base/nested_roots"
    val done = s"$base/nested_roots_done"
    val fresh = s"$base/nested_roots_fresh"
    Seq(dir, done).foreach(bm25Layer())
    bm25Layer(5L)(fresh)
    Takedown.bm25Takedown(spark, done, idsDf(Seq(5L), "doc_id"))
    // the state a crash leaves between the takedown's two swap steps:
    // marker committed, postings/ingest_batch=1 swapped in, the debited
    // stats/ingest_batch=1 still staged beside the live undebited one
    copy(s"$done/postings/ingest_batch=1", s"$dir/postings/ingest_batch=1")
    copy(s"$done/stats/ingest_batch=1",
      s"$dir/_takedown_tmp/stats/ingest_batch=1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_takedown_tmp/_TAKEDOWN_COMMIT"),
      "1 postings/ingest_batch=1\n1 stats/ingest_batch=1\n"
        .getBytes("UTF-8"))
    spark.catalog.refreshByPath(dir)
    val e = intercept[IllegalStateException] {
      IngestStream.ingestLayerCompact(spark,
        s"$dir/stats", watermark = 1L)
    }
    assert(e.getMessage.contains(s"layer $dir has a committed swap"),
      e.getMessage)
    assert(new java.io.File(s"$dir/stats").list().toSet
      .filter(_.startsWith("ingest_batch=")) ==
      Set("ingest_batch=0", "ingest_batch=1"), "the refusal folds nothing")
    Swap.completePending(spark, dir)
    Seq("postings", "stats").foreach { sub =>
      IngestStream.ingestLayerCompact(spark,
        s"$dir/$sub", watermark = 1L)
    }
    def totals(d: String) = Writes.readParquet(spark, s"$d/stats")
      .agg(sum("n_docs"), sum("sum_dl")).head().toSeq
    assert(totals(dir) == totals(fresh), "n_docs and sum_dl count once")
    assert(bm25Serve(dir) == bm25Serve(fresh))
  }

  test("a _patch_tmp left by an earlier build: the doctor says to " +
       "finish it with that build and maintenance refuses the layer, " +
       "naming the path") {
    val dir = s"$base/legacy_patch"
    ivfIndex(withDelta = false)(dir)
    val legacy = new java.io.File(s"$dir/_patch_tmp")
    legacy.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacy.getPath, "_PATCH_COMMIT"),
      "0 1\n1 0\n".getBytes("UTF-8"))
    val finding = Takedown.layerDoctor(spark, dir).collect()
      .find(_.getString(0) == "index-patch").get
    assert(finding.getString(1) == "pending-committed")
    assert(finding.getString(2).contains("earlier build"))
    val e = intercept[IllegalStateException] {
      Takedown.ivfTakedown(spark, dir, idsDf(Seq(1L), "vec_id"))
    }
    assert(e.getMessage.contains("_patch_tmp"), e.getMessage)
    assert(intercept[IllegalStateException] {
      Swap.completePending(spark, dir)
    }.getMessage.contains(dir))
    assert(spark.read.parquet(dir).count() == mainPts.size.toLong,
      "the refused layer is untouched")
  }
}
