package graft.cache

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.security.MessageDigest

/** Content-addressed DataFrame memo store.
  *
  * Spark-native form of the reference's funflow content store + cachers
  * (PTask/Internal.hs:74-80,245-262; Caching.hs:52-123): a stage result
  * is persisted as Parquet under `root/<sha256(key)>`; a later run with
  * the same key reuses the files and skips recompute. Keys must include
  * everything the result depends on — the stage's identity salt, its
  * parameters, and the **resolved input locations + fingerprints**
  * (the reference reruns when bound locations change,
  * PorcupineTree.hs:123-129).
  *
  * The root can live on shared storage (s3a://...) for cluster-wide
  * reuse — the reference's remote cache (FunflowRemoteCache.hs:32-59).
  */
final case class Memo(spark: SparkSession, root: String) {

  def keyOf(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fingerprint of a bound location on ANY supported scheme
    * (file:/s3a:/hdfs:, via the Hadoop FS API): relative path, length,
    * mtime of every file under it (cheap; content-hash would re-read
    * TBs). Part of cache keys so a rebind or upstream rewrite forces a
    * rerun (PorcupineTree.hs:123-129 fidelity). */
  def fingerprint(location: String): String = {
    val p = new Path(location)
    val fs = fsFor(p)
    if (!fs.exists(p)) s"absent:$location"
    else {
      // strip the FS-QUALIFIED prefix: listed paths come back
      // qualified (file:/...), so stripping the raw input would no-op
      // for unqualified locations and leak absolute paths into keys
      val prefix = fs.makeQualified(p).toString
      val it = fs.listFiles(p, true)
      val entries = Iterator.continually(it)
        .takeWhile(_.hasNext)
        .map { i =>
          val st = i.next()
          val rel = st.getPath.toString.stripPrefix(prefix)
          s"$rel:${st.getLen}:${st.getModificationTime}"
        }.toSeq.sorted
      entries.mkString(";")
    }
  }

  private def dirFor(key: String) = s"$root/$key"
  private def okMarker(key: String) = new Path(dirFor(key), "_GRAFT_OK")
  // the entry's schema from its footer: no inference job per read-back
  private def readBack(key: String) =
    graft.Writes.readParquet(spark, dirFor(key))

  def lookup(key: String): Option[DataFrame] = {
    val m = okMarker(key)
    if (fsFor(m).exists(m)) Some(readBack(key))
    else None
  }

  /** Persist under the key, safely against concurrent jobs sharing the
    * cache root. The store is content-addressed — same key means same
    * content — so a completed entry is NEVER overwritten or deleted
    * (deleting would pull files from under a concurrent reader). A
    * miss stages the parquet WITH its marker already inside, then
    * publishes with FileContext.rename(..., Rename.NONE): on file:/
    * hdfs: that is an atomic no-overwrite move, so the entry appears
    * complete-with-marker in one step and a losing writer's rename
    * FAILS outright (FileSystem.rename would instead nest the staging
    * dir INSIDE the existing entry). A crashed run's remnant is
    * unmarked and simply replaced by the next writer's publish after
    * removal; published (marked) entries are never candidates for
    * removal. On s3a, rename is copy+delete (not atomic) — use a
    * per-cluster root or accept last-writer-wins there. */
  def store(key: String, df: DataFrame): DataFrame = {
    val target = new Path(dirFor(key))
    val fs = fsFor(target)
    if (fs.exists(okMarker(key))) return readBack(key)
    val staging = new Path(dirFor(key) + ".tmp-" + java.util.UUID.randomUUID)
    try {
      df.write.mode("overwrite").parquet(staging.toString)
      fs.create(new Path(staging, "_GRAFT_OK"), true).close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      def tryPublish(): Boolean =
        try {
          fc.rename(staging, target,
            org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch { case _: java.io.IOException => false }
      if (!tryPublish()) {
        // destination exists: a completed entry (reuse it) or an
        // unmarked crashed remnant. Removing the remnant in place
        // would race a concurrent writer publishing a complete entry
        // between our marker check and the delete — so instead RENAME
        // the suspect aside with the same atomic no-overwrite rename
        // (the "is it published?" test and the removal become one
        // atomic step), verify the renamed dir really is unmarked,
        // and restore it if we accidentally grabbed a published entry.
        if (fs.exists(okMarker(key))) fs.delete(staging, true)
        else {
          val aside = new Path(dirFor(key) + ".trash-" +
            java.util.UUID.randomUUID)
          val grabbed =
            try {
              fc.rename(target, aside, org.apache.hadoop.fs.Options.Rename.NONE)
              true
            } catch { case _: java.io.IOException => false }
          if (grabbed && fs.exists(new Path(aside, "_GRAFT_OK"))) {
            // a concurrent writer published between the marker check
            // and our rename: put the completed entry back (if yet
            // another writer published meanwhile, the content is
            // identical — drop ours)
            try fc.rename(aside, target,
              org.apache.hadoop.fs.Options.Rename.NONE)
            catch { case _: java.io.IOException => fs.delete(aside, true) }
            fs.delete(staging, true)
          } else {
            if (grabbed) fs.delete(aside, true) // confirmed crashed remnant
            if (!tryPublish()) fs.delete(staging, true) // lost the race
          }
        }
      }
    } catch {
      case e: Throwable => fs.delete(staging, true); throw e
    }
    readBack(key)
  }

  /** Memoize: on hit read back; on miss compute, persist, read back.
    * (Reading back keeps downstream lineage rooted at the store — same
    * behavior hit or miss.) */
  def getOrElseUpdate(key: String)(compute: => DataFrame): DataFrame =
    lookup(key).getOrElse(store(key, compute))
}
