package graft

import graft.llm._
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
  * interrupted operation must give exactly the after state. */
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
    * (relative to the layer dir) to the components its marker owns
    * (parquet dirs, or `.txt` sidecar files). */
  private case class Op(name: String, build: String => Unit,
                        run: String => Unit,
                        roots: Seq[(String, Seq[String])])

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
    Set("takedown-swap", "index-patch", "compaction-temp")

  private def copy(from: String, to: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(to))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))
  }

  private def live(local: String) = CrashFileSystem.uri("live", local)

  /** Build `op`'s fixture and run it once uncrashed, counting its
    * mutating calls: (crash points, before state, after state). */
  private def prepare(i: Int, op: Op): (Long, State, State) = {
    val pristine = s"$base/${op.name}/pristine"
    op.build(live(pristine))
    val ref = s"$base/${op.name}/ref"
    copy(pristine, ref)
    val domain = s"op$i-ref"
    CrashFileSystem.arm(domain, Long.MaxValue)
    op.run(CrashFileSystem.uri(domain, ref))
    (CrashFileSystem.calls(domain), snapshot(op, live(pristine)),
      snapshot(op, live(ref)))
  }

  /** Run `op` on a fresh fixture copy, crashing at its k-th mutating
    * call, then recover and check; returns whether it crashed. */
  private def crashAt(i: Int, op: Op, k: Long, before: State,
                      after: State): Boolean = {
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
    op.roots.foreach { case (r, _) =>
      Swap.completePending(spark, at(dir, r)) }
    val got = snapshot(op, dir)
    op.roots.indices.foreach { j =>
      val (root, state) = got(j)
      assert(state == before(j)._2 || state == after(j)._2,
        s"${op.name}: crash point $k left swap root '$root' in " +
          s"neither its before nor its after state: $state")
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
    crashed
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
  private def pqIndex(dir: String): Unit =
    Similarity.pqWriteIndex(pqPts, pqBooks, dir, nBuckets = 4)
  private def pqPatch(newBooks: Seq[Seq[Seq[Double]]])(dir: String)
      : Unit =
    Similarity.pqPatchIndex(spark, dir, pqPts, pqBooks, newBooks,
      nBuckets = 4)

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
    }, Seq("" -> Seq(""))),
    Op("bm25Takedown", { dir =>
      import spark.implicits._
      val docs = Seq((1L, "red fox runs"), (2L, "blue fox sleeps"),
        (3L, "red hen"), (4L, "old blue car"), (5L, "red car runs"),
        (6L, "hen sleeps")).toDF("doc_id", "text")
      TextAnalysis.bm25PostingsBatch(
        docs.filter(col("doc_id") <= 3L), dir, batchId = 0L)
      TextAnalysis.bm25PostingsBatch(
        docs.filter(col("doc_id") > 3L), dir, batchId = 1L)
    }, { dir =>
      Takedown.bm25Takedown(spark, dir, idsDf(Seq(2L, 5L), "doc_id"))
    }, Seq("" -> Seq("postings", "stats", "termdf"))),
    Op("ivfTakedown", ivfIndex(withDelta = true), { dir =>
      // main cell 0 rewritten, cell 1 emptied, delta batch rewritten
      Takedown.ivfTakedown(spark, dir,
        idsDf(Seq(2L, 3L, 4L, 8L), "vec_id"))
    }, Seq(ivfRoot, "_delta" -> Seq("_delta"))),
    Op("ivfCompactDelta", ivfIndex(withDelta = true), { dir =>
      Similarity.ivfCompactDelta(spark, dir)
    }, Seq("" -> Seq("", "_delta", "_centroids.txt"))),
    Op("ivfPatchIndex", ivfIndex(withDelta = false), { dir =>
      // rows 3 and 4 move to cell 0, cell 1 empties
      Similarity.ivfPatchIndex(spark, dir, Seq(pad(Seq(8.0, 0.0)),
        pad(Seq(20.0, 0.0)), pad(Seq(100.0, 100.0))))
    }, Seq(ivfRoot)),
    Op("ivfPatchIndex_sidecar_only", ivfIndex(withDelta = false), {
      dir =>
        // no row changes cell: only the centroid sidecar advances
        Similarity.ivfPatchIndex(spark, dir, Seq(pad(Seq(0.0, 0.0)),
          pad(Seq(10.0, 0.0)), pad(Seq(100.0, 101.0))))
    }, Seq(ivfRoot)),
    Op("pqPatchIndex", pqIndex, pqPatch(Seq(
      // every codeword pair swapped: every row re-codes
      Seq(Seq(8.0, 0.0), Seq(0.0, 0.0)),
      Seq(Seq(0.0, 8.0), Seq(0.0, 0.0)))),
      Seq("" -> Seq("", "_books.txt"))),
    Op("pqPatchIndex_sidecar_only", pqIndex, pqPatch(Seq(
      // codewords nudged, no row's codes change
      Seq(Seq(0.0, 0.0), Seq(8.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 9.0)))),
      Seq("" -> Seq("", "_books.txt"))))

  test("crash-point enumeration: every maintenance swap recovers to " +
       "its before or after state at every crash point, leaves no " +
       "protocol artifact, and reruns to the after state") {
    val t0 = System.nanoTime()
    val indexed = ops.zipWithIndex
    val prepared = graft.task.Fanout.all(spark,
      indexed.map { case (op, i) => () => prepare(i, op) }, Parallel)
    indexed.zip(prepared).foreach { case ((op, _), (n, before, after)) =>
      assert(before != after, s"${op.name}: the fixture must change")
      // clear, stage, marker, at least one swap step, final delete
      assert(n >= 5L, s"${op.name}: only $n mutating calls")
    }
    // every crash point 1..n, then n + 1, where the run must complete
    val runs = indexed.zip(prepared).flatMap {
      case ((op, i), (n, before, after)) =>
        (1L to n + 1).map(k => () =>
          (op.name, k, n, crashAt(i, op, k, before, after)))
    }
    graft.task.Fanout.all(spark, runs, Parallel).foreach {
      case (name, k, n, crashed) =>
        assert(crashed == (k <= n), s"$name: the run armed at $k of " +
          s"$n ${if (crashed) "crashed" else "completed"}")
    }
    info(indexed.zip(prepared).map { case ((op, _), (n, _, _)) =>
      s"${op.name} $n" }.mkString("crash points: ", ", ", "") +
      f"; ${(System.nanoTime() - t0) / 1e9}%.1f s")
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
