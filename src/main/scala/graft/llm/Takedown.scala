package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Takedown propagation — "right to be forgotten" over the engine's
  * persisted artifacts. A takedown id set (legal removal requests,
  * opt-outs, licensing pulls) must disappear from EVERY standing
  * layer a 100 TB pipeline serves from, not just the raw corpus:
  * the batch-keyed ingest layers (corpus, signatures, postings), the
  * dense indexes (IVF cell layout, PQ code layout), and the CMS
  * frequency layer. Rebuilding each from scratch is a full-corpus
  * pass per artifact; these operators rewrite ONLY the partitions
  * that actually contain a taken-down row (takedown lists are tiny
  * against the corpus, so the affected-partition set is too), and
  * every mutation runs under one crash-safe commit-marker protocol,
  * so a crash at any point either leaves the layer untouched or is
  * completed by the next entry — rows never half-vanish.
  *
  * Equivalence contract (oracle-proven per layer): after takedown,
  * serving from the patched artifact is indistinguishable from a
  * full rebuild over `corpus MINUS ids` — the llm_ivf_patch device
  * applied to deletion. Reference lifecycle analogue: porcupine
  * treats resource layers as rebindable persistent state
  * (porcupine-core/src/System/TaskPipeline/Run.hs:72-81); takedown
  * is the maintenance face of those layers.
  *
  * Every mutation commits through [[Swap]]; see there for the
  * protocol and its crash recovery.
  *
  * Scale: discovery is one semi-join of the layer against the
  * (broadcast) id set; rewrites are anti-joins over ONLY the
  * affected partition directories. Cost is proportional to the
  * affected partitions' row mass — a takedown touching 0.1% of
  * partitions rewrites 0.1% of the artifact. */
object Takedown {

  /** One completed layer mutation: partitions rewritten (or dropped)
    * and rows removed. (0, 0) means the id set did not intersect the
    * layer — the idempotent-rerun result. */
  type Audit = (Long, Long)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Normalize a caller id frame to one broadcastable column named
    * `idCol` (first column wins). Duplicates are kept: every consumer
    * is a semi- or anti-join, which a repeated id cannot multiply, and
    * a `distinct` here would cost a shuffle job per broadcast. */
  private def idFrame(ids: DataFrame, idCol: String): DataFrame =
    broadcast(ids.select(col(ids.columns.head).as(idCol)))

  // ---------------------------------------------------------------
  // Batch-keyed ingest layers (corpus / signature / any
  // `ingest_batch=`-partitioned layer) and the dense indexes
  // ---------------------------------------------------------------

  /** Expand a takedown id set to FULL near-dup clusters: a removal
    * request names documents, but the obligation is usually to the
    * CONTENT — every near-duplicate copy of a requested doc must go
    * too, or the removed text survives verbatim under another id.
    * Joins the request against the corpus-version components
    * artifact ([[Dedup.connectedComponents]] over the MinHash pair
    * set — the table the dedup chain already pays for): any
    * component containing a requested id contributes all its
    * members; requested ids absent from the artifact (singletons —
    * no near-dups) pass through unchanged. The hit-component list is
    * ≤ \|ids\| rows and broadcasts; output feeds any takedown face
    * verbatim. */
  def expandToClusters(ids: DataFrame, components: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val idsB = idFrame(ids, idCol)
    val hit = components
      .join(idsB, components("id") === idsB(idCol), "left_semi")
      .select(col("component")).distinct()
    components.join(broadcast(hit), Seq("component"), "left_semi")
      .select(col("id").as(idCol))
      .unionByName(idsB)
      .distinct()
  }

  /** Layer doctor — read-only diagnosis of a standing layer's
    * maintenance state: classifies every protocol artifact the
    * engine's crash-safe swaps can leave behind (a COMMITTED temp is
    * recovery state the next maintenance entry will complete; an
    * UNCOMMITTED one is provably-untouched garbage), counts the
    * partition families (batch / cell / bucket, compact coverage),
    * and reports sidecar presence and `_delta` depth. It also names
    * what earlier builds left: a BM25 `termdf/` dir (unread), a
    * `_compact_tmp_*` fold output, and a compact whose
    * `_COMPACT_SOURCES` marker stands beside a partition it covers
    * (compaction refuses that layer). Pure directory
    * listings — no data is read and NOTHING is mutated, so it is
    * safe to run against a live layer; cost is O(#partitions)
    * driver-side, dashboard-sized at any corpus scale. One row per
    * finding: (artifact, state, detail). */
  def layerDoctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    if (!fs.exists(root)) {
      out += (("layer", "absent", dir))
      return out.toSeq.toDF("artifact", "state", "detail")
    }
    val names = fs.listStatus(root).map(_.getPath.getName).toSeq
    def classifyTmp(tmpName: String, markerName: String,
                    label: String)(detail: Boolean => String): Unit =
      if (names.contains(tmpName)) {
        val committed =
          fs.exists(new Path(new Path(root, tmpName), markerName))
        out += ((label,
          if (committed) "pending-committed" else "uncommitted-garbage",
          detail(committed)))
      }
    classifyTmp(Swap.TmpName, Swap.MarkerName, "takedown-swap") { c =>
      if (c) "recovery state: the next maintenance entry completes it"
      else "pre-commit leftovers: provably untouched layer, " +
        "cleared on the next entry"
    }
    classifyTmp(Swap.LegacyPatchTmp, Swap.LegacyPatchMarker,
        "index-patch") { _ =>
      "left by an earlier build's index patch: finish it with that " +
        "build; this build's maintenance entries refuse the layer " +
        "while it stands"
    }
    names.filter(_.startsWith("_compact_tmp_")).foreach { n =>
      out += (("compaction-temp", "uncommitted-garbage",
        s"$n: an earlier build's fold output, never renamed into the " +
          "layer; the next compaction deletes it"))
    }
    val parts = graft.streaming.IngestStream.batchPartitions(fs, root)
    graft.streaming.IngestStream.legacyCompactLeftover(fs, parts)
      .foreach { why =>
        out += (("legacy-compact", "pending-committed",
          s"$why; this build's compaction refuses the layer"))
      }
    val batches = parts.map(_._2)
    if (batches.nonEmpty) {
      val (compacts, live) = batches.partition(_ < 0)
      out += (("batch-partitions", "present",
        s"${live.size} live" + (if (live.nonEmpty)
          s" (ids ${live.min}..${live.max})" else "") +
        (if (compacts.nonEmpty)
          s", ${compacts.size} compact (coverage <= ${
            compacts.map(c => -c - 1).max})" else "")))
    }
    def partIds(prefix: String): Seq[Long] = names
      .filter(_.startsWith(prefix))
      .flatMap(_.drop(prefix.length).toLongOption)
    Seq("cell_id=" -> "ivf-cells", "pq_bucket=" -> "pq-buckets")
      .foreach { case (p, label) =>
        val ids = partIds(p)
        if (ids.nonEmpty)
          out += ((label, "present", s"${ids.size} partitions"))
      }
    if (names.contains(Similarity.DeltaDirName)) {
      val batches = Similarity.deltaBatches(spark, dir)
      out += (("delta-segment", "present",
        s"$batches batches; fold before any centroid/codebook " +
          "patch"))
    }
    Seq(Similarity.CentroidSidecar -> "centroid-sidecar",
        Similarity.BooksSidecar -> "codebook-sidecar",
        "_geometry.json" -> "geometry-sidecar")
      .foreach { case (n, label) =>
        if (names.contains(n)) out += ((label, "present", n))
      }
    if (names.contains("termdf"))
      out += (("termdf-sidecar", "legacy-unread",
        s"${new Path(root, "termdf")}: a BM25 term-df sidecar an " +
          "earlier build wrote; nothing reads or maintains it, safe " +
          "to delete"))
    if (out.isEmpty) out += (("layer", "empty", dir))
    out.toSeq.toDF("artifact", "state", "detail")
  }

  /** DRY-RUN takedown audit — the legal-review step before
    * execution: report, per partition of a partition-keyed layer,
    * how many rows the id set would remove and how many would
    * remain, WITHOUT mutating anything. Exactly the discovery
    * semi-join [[layerTakedown]] pays (one broadcast-filtered scan);
    * the output is ≤ |partitions| rows, so the preview of a 100 TB
    * layer is a dashboard-sized table. Works on any layer the
    * executing takedown would (ingest layers, compacted negatives,
    * the dense-index layouts via `partCol`). */
  def takedownPreview(spark: SparkSession, layerDir: String,
                      ids: DataFrame, idCol: String,
                      partCol: String = "ingest_batch"): DataFrame = {
    // the left join counts matches, so a repeated id must not
    // double-count its row
    val idsB = idFrame(ids, idCol).distinct()
    graft.Writes.readParquet(spark, layerDir)
      .join(idsB.withColumn("_m", lit(1L)), Seq(idCol), "left")
      .groupBy(col(partCol).cast("long").as(partCol))
      .agg(sum(coalesce(col("_m"), lit(0L))).as("n_removed"),
        (count(lit(1)) - sum(coalesce(col("_m"), lit(0L))))
          .as("n_remaining"))
      .filter(col("n_removed") > 0)
  }

  /** Remove `ids` rows from a partition-keyed layer: only partitions
    * that actually contain a takedown row are rewritten (anti-join
    * over that partition directory alone); everything else keeps its
    * files byte-for-byte. Works on live AND compacted ingest layers
    * (a compact's reserved negative partition id is just another
    * directory here) and on the dense-index layouts via the
    * `partCol` parameter. Returns (rowsRemoved, partitionsRewritten);
    * a rerun with the same ids is a (0, 0) no-op. */
  def layerTakedown(spark: SparkSession, layerDir: String,
                    ids: DataFrame, idCol: String,
                    partCol: String = "ingest_batch"): Audit = {
    val root = new Path(layerDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return (0L, 0L)
    Swap.completePending(spark, layerDir)
    findScrubs(Seq((graft.Writes.readParquet(spark, layerDir), partCol,
        "")), idFrame(ids, idCol), idCol).headOption match {
      case None => (0L, 0L)
      case Some(scrub) =>
        Swap.commit(spark, layerDir, scrub.rels)(scrub.stage)
        scrub.audit
    }
  }

  /** The takedown scrubs of partition-keyed `layers`, each given as
    * (layer, partition column, its subdir of the swap root — "" for
    * the root itself): ONE semi-join aggregation job finds every
    * layer's affected partitions. A layer with none has no scrub. */
  private def findScrubs(layers: Seq[(DataFrame, String, String)],
                         idsB: DataFrame, idCol: String): Seq[Scrub] = {
    // partition-inference types the key as INT when values fit —
    // normalize to long so compacted layers' negative ids and the
    // dense indexes' long keys land in one code path
    val hits = layers.zipWithIndex.map { case ((layer, partCol, _), i) =>
        layer.join(idsB, Seq(idCol), "left_semi")
          .select(lit(i).as("_l"), col(partCol).cast("long").as("_p"))
      }.reduce(_ unionByName _)
      .groupBy(col("_l"), col("_p"))
      .agg(count(lit(1)).as("n"))
      .collect().toSeq
      .groupMap(_.getInt(0))(r => (r.getLong(1), r.getLong(2)))
    layers.zipWithIndex.flatMap { case ((layer, partCol, subdir), i) =>
      hits.get(i).map(affected => Scrub(layer, idsB, idCol, partCol,
        subdir, affected.sortBy(_._1)))
    }
  }

  /** A takedown scrub: its `affected` partitions, ascending, with the
    * rows each loses. */
  private case class Scrub(layer: DataFrame, idsB: DataFrame,
                           idCol: String, partCol: String,
                           subdir: String, affected: Seq[(Long, Long)]) {

    /** The swap entries, relative to the swap root. */
    def rels: Seq[String] = affected.map { case (p, _) =>
      (if (subdir.isEmpty) "" else s"$subdir/") + s"$partCol=$p" }

    /** Full post-takedown content of every affected partition, ONE
      * job, partition-keyed under `tmp` at the entries' relative
      * paths (an emptied partition writes no dir, so the swap drops
      * its live dir). Appends: another scrub's write may share `tmp`
      * and create it first. */
    def stage(tmp: Path): Unit =
      graft.Writes.clusterByPartitions(
          layer.filter(col(partCol).cast("long")
              .isin(affected.map(_._1): _*))
            .join(idsB, Seq(idCol), "left_anti"), partCol)
        .write.mode("append").partitionBy(partCol)
        .parquet((if (subdir.isEmpty) tmp else new Path(tmp, subdir))
          .toString)

    def audit: Audit = (affected.map(_._2).sum, affected.length.toLong)
  }

  /** [[layerTakedown]] over an [[Similarity.ivfWriteIndex]] layout:
    * drop the taken-down vectors from their `cell_id=` partitions —
    * centroids are untouched (dropping rows does not move cells), so
    * the `_centroids.txt` sidecar stays authoritative and
    * [[Similarity.ivfTopKIndexedAuto]] serves the patched layout
    * directly. */
  def ivfTakedown(spark: SparkSession, indexDir: String,
                  ids: DataFrame, idCol: String = "vec_id"): Audit =
    denseTakedown(spark, indexDir, ids, idCol, "cell_id")

  /** [[layerTakedown]] over a [[Similarity.pqWriteIndex]] layout
    * (`pq_bucket=` partitions of (id, codes)); codebooks untouched,
    * `_books.txt` sidecar stays authoritative. */
  def pqTakedown(spark: SparkSession, indexDir: String,
                 ids: DataFrame, idCol: String = "vec_id"): Audit =
    denseTakedown(spark, indexDir, ids, idCol, "pq_bucket")

  /** [[ivfTakedown]] / [[pqTakedown]] shared body: scrub the main
    * `partCol=` partitions AND the `_delta` side segment
    * ([[Similarity.ivfAppendBatch]]) — invisible to the main read, so
    * appended-then-taken-down vectors would otherwise survive in the
    * serving union. Both scrubs swap under ONE marker at the index
    * root (`_delta/ingest_batch=` entries beside the `partCol=` ones),
    * so a crash can never leave one segment taken down and the other
    * not. Discovery is one job over both; the two staging writes run
    * as concurrent jobs into the one tmp. The root's pending swap lands
    * before anything reads, and so does a `_delta` tmp that an earlier
    * build's separate delta scrub left. */
  private def denseTakedown(spark: SparkSession, indexDir: String,
                            ids: DataFrame, idCol: String,
                            partCol: String): Audit = {
    val root = new Path(indexDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return (0L, 0L)
    Swap.completePending(spark, indexDir)
    val deltaDir = Similarity.deltaDir(indexDir).toString
    Swap.completePending(spark, deltaDir)
    val idsB = idFrame(ids, idCol)
    // a main layout every row left, or a `_delta` a takedown emptied,
    // holds no partition to read
    val mainHolds = fs.listStatus(root)
      .exists(_.getPath.getName.startsWith(s"$partCol="))
    val layers = Seq(
      (mainHolds, indexDir, partCol, ""),
      (Similarity.deltaBatches(spark, indexDir) > 0, deltaDir,
        "ingest_batch", Similarity.DeltaDirName))
      .collect { case (true, dir, p, subdir) =>
        (graft.Writes.readParquet(spark, dir), p, subdir) }
    if (layers.isEmpty) return (0L, 0L)
    val scrubs = findScrubs(layers, idsB, idCol)
    if (scrubs.isEmpty) return (0L, 0L)
    Swap.commit(spark, indexDir, scrubs.flatMap(_.rels)) { tmp =>
      graft.task.Fanout.all(spark, scrubs.map(s => () => s.stage(tmp)))
    }
    val audits = scrubs.map(_.audit)
    (audits.map(_._1).sum, audits.map(_._2).sum)
  }

  // ---------------------------------------------------------------
  // BM25 postings layer (postings + stats subdirs, coupled)
  // ---------------------------------------------------------------

  /** Takedown over a [[TextAnalysis.bm25PostingsBatch]] layer: the
    * affected `postings/ingest_batch=` partitions lose the
    * taken-down docs' rows AND the matching `stats/ingest_batch=`
    * partitions are debited by exactly those docs' (count, dl) mass —
    * both swapped under ONE commit marker, so a crash can never leave
    * the two subdirs disagreeing past recovery. Serving from the
    * patched layer is bit-identical to a rebuild over `corpus MINUS
    * ids` (oracle-proven), because postings are doc-local and stats
    * are additive; every serve, the pruned serve's cost routing
    * included, reads the exact df of its query vocabulary from the
    * patched postings, so the takedown keeps no df bookkeeping of its
    * own. A `termdf/` dir an earlier build left is neither read nor
    * rewritten ([[layerDoctor]] names it).
    *
    * Requires a stats partition with the SAME id as every affected
    * postings partition — true by construction for
    * [[TextAnalysis.bm25PostingsBatch]] layers, and
    * preserved by compaction of postings and stats at one watermark
    * (the documented
    * [[graft.streaming.IngestStream.ingestLayerCompact]] usage);
    * fails fast otherwise.
    *
    * Known edge, documented: a doc with ZERO tokens has no postings
    * rows, so its batch membership is invisible here — its n_docs
    * mass stays in the stats (the serve-side N is one high per such
    * doc). Lexically a zero-token doc has no presence to remove;
    * pipelines that ingest empty docs should take them down at the
    * corpus layer, where membership is row-explicit. */
  def bm25Takedown(spark: SparkSession, indexDir: String,
                   ids: DataFrame, idCol: String = "doc_id"): Audit = {
    val root = new Path(indexDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return (0L, 0L)
    val postDir = s"$indexDir/postings"
    // the root's swap, then a crashed compaction's on either subdir
    Seq(indexDir, postDir, s"$indexDir/stats")
      .foreach(Swap.completePending(spark, _))
    if (!fs.exists(new Path(postDir))) return (0L, 0L)
    val idsB = idFrame(ids, idCol)
    val post = graft.Writes.readParquet(spark, postDir)
    // per affected batch: the doc-count and doc-length mass leaving
    // it (dl is per-doc constant across its postings rows, so the
    // per-(batch, doc) rollup is exact) plus the postings row count
    // for the audit — one aggregation chain over the removed docs'
    // postings rows, collected at ≤ |affected batches| rows
    val debits = post.join(idsB, Seq(idCol), "left_semi")
      .groupBy(col("ingest_batch").cast("long").as("_b"), col(idCol))
      .agg(count(lit(1)).as("_rows"), max(col("dl")).as("_dl"))
      .groupBy(col("_b"))
      .agg(sum(col("_rows")).as("n_rows"),
        count(lit(1)).as("n_rm"),
        sum(col("_dl")).as("dl_rm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_._1)
    if (debits.isEmpty) return (0L, 0L)
    val batches = debits.map(_._1)
    batches.foreach { b =>
      require(fs.exists(new Path(root, s"stats/ingest_batch=$b")),
        s"bm25Takedown: postings partition ingest_batch=$b has no " +
          s"matching stats partition — compact postings/ and stats/ " +
          s"at the same watermark so the subdirs stay id-aligned")
    }
    // the two tmp writes below (postings / stats) read disjoint live
    // subdirs and write disjoint tmp subdirs, so they run as
    // CONCURRENT Spark jobs (thread-safe on one session). The commit
    // marker still lands only after BOTH of them complete.
    // fresh postings for every affected batch: ONE partition-keyed
    // anti-join write (an emptied batch writes no dir -> dropped)
    val postJob = (tmp: Path) => {
      graft.Writes.clusterByPartitions(
          post.filter(col("ingest_batch").cast("long")
              .isin(batches: _*))
            .join(idsB, Seq(idCol), "left_anti"), "ingest_batch")
        .write.partitionBy("ingest_batch")
        .parquet(new Path(tmp, "postings").toString)
    }
    // fresh stats: the live per-batch sums debited by exactly the
    // removed docs' (count, dl) mass — one row per affected batch
    val debitRows = debits.map { case (b, _, n, dl) => (b, n, dl) }
    import spark.implicits._
    val debitDf = debitRows.toSeq.toDF("_b", "_n_rm", "_dl_rm")
    val statsJob = (tmp: Path) => {
      graft.Writes.readParquet(spark, s"$indexDir/stats")
        .filter(col("ingest_batch").cast("long").isin(batches: _*))
        .groupBy(col("ingest_batch").cast("long").as("_b"))
        .agg(sum(col("n_docs")).as("_n"), sum(col("sum_dl")).as("_s"))
        .join(broadcast(debitDf), Seq("_b"))
        .select((col("_n") - col("_n_rm")).cast("long").as("n_docs"),
          (col("_s") - col("_dl_rm")).cast("long").as("sum_dl"),
          col("_b").as("ingest_batch"))
        .write.partitionBy("ingest_batch")
        .parquet(new Path(tmp, "stats").toString)
    }
    val rels = batches.map(b => s"postings/ingest_batch=$b") ++
      batches.map(b => s"stats/ingest_batch=$b")
    // every write COMPLETES before any failure surfaces: a retried
    // takedown clears tmp before its stage, and an orphan writer
    // could otherwise land stale subdirs under the retry's tmp that
    // its marker then commits
    Swap.commit(spark, indexDir, rels.toSeq) { tmp =>
      graft.task.Fanout.all(spark,
        Seq(postJob, statsJob).map(job => () => job(tmp)))
    }
    (debits.map(_._2).sum, batches.length.toLong)
  }

  // ---------------------------------------------------------------
  // CMS frequency layer (subtract-and-fold)
  // ---------------------------------------------------------------

  /** Takedown over a [[graft.streaming.IngestStream.cmsBatch]]
    * layer. Count-min cells are plain sums over disjoint doc sets,
    * so sketch(corpus MINUS ids) = sketch(corpus) − sketch(ids'
    * docs) CELL-WISE, exactly — the one-sided guarantee survives
    * because the result IS the sketch of the remaining multiset.
    * The removed docs' sketch is computed from the corpus layer
    * (the only place their text still lives — run this BEFORE the
    * corpus-layer takedown), negated, and folded together with
    * every existing batch partition into one compact partition via
    * the [[graft.streaming.IngestStream.cmsCompact]] fold (reserved
    * negative id, one [[Swap]] commit).
    *
    * Fails fast (before any mutation) if any removed cell exceeds
    * its layer cell — the signature of ids that were never sketched
    * into this layer (wrong corpus dir, wrong geometry era), where
    * subtraction would corrupt the layer instead of cleaning it.
    *
    * Returns the removed-doc count (0 = no intersection, layer
    * untouched). Quiesce the writing stream first, as with any
    * layer maintenance. */
  def cmsTakedown(spark: SparkSession, sketchDir: String,
                  corpusDir: String, ids: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): Long = {
    import graft.streaming.IngestStream
    val geom = IngestStream.cmsLayerGeometry(spark, sketchDir)
    if (geom.isEmpty) return 0L
    Swap.completePending(spark, sketchDir)
    val (depth, width, seed) = geom.get
    val root = new Path(sketchDir)
    val fs = fsOf(spark, root)
    val idsB = idFrame(ids, idCol)
    val removedDocs = graft.Writes.readParquet(spark, corpusDir)
      .join(idsB, Seq(idCol), "left_semi")
    val nRemoved = removedDocs.count()
    if (nRemoved == 0L) return 0L
    val removedSketch = HeavyHitters.cmsSketch(
      removedDocs.select(
        explode(TextAnalysis.tokens(col(textCol))).as("token")),
      "token", depth, width, seed)
    // pre-mutation guard: every removed cell must fit inside the
    // standing layer cell (≤ depth·width rows on each side)
    val over = removedSketch.as("r")
      .join(IngestStream.cmsLayerRead(spark, sketchDir).as("l"),
        Seq("row", "bucket"), "left")
      .filter(col("r.cnt") > coalesce(col("l.cnt"), lit(0L)))
      .count()
    require(over == 0L,
      s"cmsTakedown: $over removed cells exceed the layer's cells — " +
        s"these ids were never sketched into $sketchDir (wrong corpus " +
        s"dir or geometry era); refusing to subtract")
    // fold EVERYTHING (batches + prior compacts) minus the removed
    // sketch into one compact partition, at the watermark that covers
    // every present partition; a layer that is that one compact
    // already folds into the next id, since compaction skips a target
    // that is the only partition it covers
    val idsPresent = IngestStream.batchPartitions(fs, root).map(_._2)
    if (idsPresent.isEmpty) return 0L
    val top = idsPresent.map(i => if (i >= 0) i else -i - 1).max
    val wm = if (idsPresent == Seq(-(top + 1))) top + 1 else top
    val neg = removedSketch.select(col("row"), col("bucket"),
      (-col("cnt")).as("cnt"))
    IngestStream.compactPartitions(spark, sketchDir, wm) { covered =>
      covered.select(col("row"), col("bucket"), col("cnt"))
        .union(neg)
        .groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0)
        .coalesce(1)
    }
    nRemoved
  }
}
