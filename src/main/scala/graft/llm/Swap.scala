package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe swap protocol behind every in-place rewrite of
  * a standing layer: takedown scrubs ([[Takedown]]), delta folds
  * ([[Similarity.ivfCompactDelta]] / [[Similarity.pqCompactDelta]]),
  * centroid or codebook patches ([[Similarity.ivfPatchIndex]] /
  * [[Similarity.pqPatchIndexAuto]], model sidecar included) and
  * batch-layer compactions
  * ([[graft.streaming.IngestStream.cmsCompact]] /
  * [[graft.streaming.IngestStream.ingestLayerCompact]]: the fold is
  * the target's fresh content, every other covered partition an entry
  * without any).
  *
  * Protocol: fresh content for every replaced entry (a partition dir,
  * a subdir-qualified partition, a sidecar file) is written under an
  * invisible `_takedown_tmp` at the entry's relative path while the
  * live layer stays readable; a `_TAKEDOWN_COMMIT` marker (one
  * `<hasFresh> <relativePath>` line per entry) is the commit point;
  * only then are live entries swapped (delete live, rename fresh in —
  * a flag=0 entry has no fresh content and legitimately disappears).
  * Entry-time [[completePending]] replays a committed tmp and clears
  * an uncommitted one, so reruns converge from any crash point.
  * Entries not named in the marker keep their files byte-for-byte.
  * One tmp per root, so at most one swap is ever pending on a root.
  * Roots may nest (a BM25 layer's root and its `postings` / `stats`
  * compaction roots): a compaction refuses while its parent has a
  * committed swap pending. Serves never recover: they refuse a root
  * with a committed swap pending ([[requireSettled]]).
  */
object Swap {

  private[llm] val TmpName = "_takedown_tmp"
  private[llm] val MarkerName = "_TAKEDOWN_COMMIT"
  // the separate patch tmp of earlier builds (`<cell> <flag>` marker
  // lines plus a staged sidecar); this build neither writes nor
  // replays it
  private[llm] val LegacyPatchTmp = "_patch_tmp"
  private[llm] val LegacyPatchMarker = "_PATCH_COMMIT"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace the `rels` entries of the layer at `root` in one
    * crash-safe swap. `stage` writes each entry's new content at the
    * same relative path under the tmp dir it is handed (Spark writes
    * into it must come first: they refuse an existing target); an
    * entry with nothing under tmp is removed. Clears tmp, stages,
    * commits the marker, swaps, deletes tmp and refreshes cached
    * reads under `root`. Call [[completePending]] on `root` before
    * reading the layer to compute `rels`. */
  def commit(spark: SparkSession, root: String, rels: Seq[String])(
      stage: Path => Unit): Unit = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    val tmp = new Path(rootP, TmpName)
    fs.delete(tmp, true)
    stage(tmp)
    val entries = rels.map(rel => (rel, fs.exists(new Path(tmp, rel))))
    val out = fs.create(new Path(tmp, MarkerName), true)
    try out.write(entries.map { case (rel, hasFresh) =>
      s"${if (hasFresh) 1 else 0} $rel"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    replay(fs, rootP, tmp, entries)
    fs.delete(tmp, true)
    spark.catalog.refreshByPath(root)
  }

  /** Execute (or re-execute) the swap of a COMMITTED tmp. Safe to
    * rerun from any crash point: delete-live happens only when the
    * fresh replacement still sits in tmp (flag=1, fresh present) or
    * when the marker proves the entry's new content is empty
    * (flag=0); a flag=1 entry whose fresh copy is gone was already
    * renamed into place and is left alone. */
  private def replay(fs: FileSystem, root: Path, tmp: Path,
                     entries: Seq[(String, Boolean)]): Unit =
    entries.foreach { case (rel, hasFresh) =>
      val live = new Path(root, rel)
      val fresh = new Path(tmp, rel)
      if (hasFresh) {
        if (fs.exists(fresh)) {
          if (fs.exists(live)) fs.delete(live, true)
          require(fs.rename(fresh, live),
            s"swap rename $fresh -> $live failed")
        }
      } else if (fs.exists(live)) fs.delete(live, true)
    }

  /** Entry-time crash recovery for the layer at `dir`: a leftover
    * `_takedown_tmp` WITH its `_TAKEDOWN_COMMIT` marker is the
    * authoritative source for an interrupted swap — finish it before
    * anything reads or recomputes the layer. Without the marker the
    * stage never completed and no live entry was touched: plain
    * garbage, cleared. Fails fast on a `_patch_tmp` left by an
    * earlier build's index patch rather than maintaining over a
    * possibly half-swapped index: finish that patch with the build
    * that started it. Public so operators can force recovery before
    * serving after a suspected crash; every maintenance entry point
    * calls it once per root it rewrites. */
  def completePending(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val legacy = new Path(root, LegacyPatchTmp)
    if (fs.exists(legacy))
      throw new IllegalStateException(s"$legacy was left by an index " +
        "patch of an earlier build; finish it with that build (any " +
        "of its maintenance entries on this layer completes or " +
        "clears it) before maintaining the layer with this one")
    val tmp = new Path(root, TmpName)
    if (!fs.exists(tmp)) return
    val marker = new Path(tmp, MarkerName)
    if (fs.exists(marker)) {
      val entries = graft.Writes.readUtf8(fs, marker).split("\n")
        .iterator.map(_.trim).filter(_.nonEmpty).map { line =>
          val (flag, rel) = line.span(_ != ' ')
          (rel.drop(1), flag == "1")
        }.toSeq
      replay(fs, root, tmp, entries)
    }
    fs.delete(tmp, true)
    spark.catalog.refreshByPath(dir)
  }

  /** Read-side guard for a serve of the swap roots `dirs`: throws
    * IllegalStateException naming the first root with a committed swap
    * pending (its `_TAKEDOWN_COMMIT` marker exists), whose live entries
    * may be half-swapped. Read-only: a serve must not replay the marker
    * itself, since two concurrent serves would race on the renames. A
    * tmp without a marker never touched a live entry and passes. */
  def requireSettled(spark: SparkSession, dirs: String*): Unit =
    dirs.foreach { dir =>
      val root = new Path(dir)
      val marker = new Path(new Path(root, TmpName), MarkerName)
      if (fsOf(spark, root).exists(marker))
        throw new IllegalStateException(s"layer $dir has a committed " +
          s"swap pending ($marker); run Swap.completePending on $dir, " +
          "or any maintenance entry on the layer, before reading it")
    }
}
