package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming near-duplicate ingest: the incremental-dedup operator
  * ([[graft.llm.Dedup.minHashPairsAgainst]]) run continuously.
  *
  * The ONLY state is the signature layer on disk — a parquet of
  * `(id, sig)` rows, one `ingest_batch=<id>` partition per
  * micro-batch. Each micro-batch (1) near-dup-dedups within itself,
  * (2) LSH-joins its signatures against the layer and drops matches,
  * (3) publishes the survivors' documents to the corpus sink and
  * their signatures to the layer. No unbounded in-memory
  * state store: restart recovery is just re-reading the layer, and
  * the same layer serves any number of parallel readers.
  *
  * Scale: per batch, the corpus is touched only through its signature
  * layer (64 longs per document — ~0.5% of a 10 KB document), and the
  * batch side of the LSH join is small, so it broadcasts. At 100 TB
  * the layer is partitioned/bucketed by band hash so each ingest
  * prunes to colliding buckets.
  */
object IngestStream {

  /** The pluggable sketch behind the ingest: how a batch turns into
    * signature rows, and how two signature sets pair up. The replay /
    * ordering / cache-lifecycle machinery of [[ingestBatch]] is
    * sketch-agnostic — text MinHash and codec-free blob SimHash share
    * it verbatim. */
  trait SigScheme extends Serializable {
    /** `(id, …signature columns)`; docs too small to sketch emit no
      * row (they can never near-dup match — they always survive). */
    def signatures(batch: DataFrame, idCol: String): DataFrame
    /** `(id_new, id_corpus, …)` cross-side matches. */
    def pairs(newSigs: DataFrame, corpusSigs: DataFrame): DataFrame
  }

  object SigScheme {
    /** Text MinHash+LSH (the [[graft.llm.Dedup.minHashPairsAgainst]]
      * sketch). */
    final case class MinHash(threshold: Double = 0.7,
                             textCol: String = "text") extends SigScheme {
      def signatures(batch: DataFrame, idCol: String): DataFrame =
        Dedup.minHashSignatures(batch, textCol = textCol, idCol = idCol)
      def pairs(newSigs: DataFrame, corpusSigs: DataFrame): DataFrame =
        Dedup.minHashPairsFromSigs(newSigs, corpusSigs, threshold)
    }

    /** Codec-free blob SimHash ([[graft.llm.Multimodal
      * .blobNearDupPairs]]'s sketch): one long per blob in the layer. */
    final case class BlobSimHash(maxDist: Int = 3,
                                 contentCol: String = "content")
        extends SigScheme {
      def signatures(batch: DataFrame, idCol: String): DataFrame =
        batch.select(col(idCol).as("id"),
          graft.functions.SketchExprs.simhashBytes(col(contentCol))
            .as("simhash"))
          .where(col("simhash").isNotNull)
      def pairs(newSigs: DataFrame, corpusSigs: DataFrame): DataFrame =
        Dedup.simHashPairsAcross(newSigs, corpusSigs, maxDist)
    }

    /** Perceptual image dHash ([[graft.llm.Multimodal.imagePhash]]'s
      * sketch, REAL-decoded pixels): re-encodes and near-identical
      * rasters collide even when their container bytes share no
      * windows — the layer a byte-level sketch cannot provide.
      * Undecodable blobs emit no signature (they always survive;
      * route them through [[BlobSimHash]] for codec-free cover). */
    final case class ImagePhash(maxDist: Int = 3,
                                contentCol: String = "content")
        extends SigScheme {
      def signatures(batch: DataFrame, idCol: String): DataFrame =
        graft.llm.Multimodal.imagePhash(batch, idCol, contentCol)
          .select(col(idCol).as("id"), col("phash").as("simhash"))
          .where(col("simhash").isNotNull)
      def pairs(newSigs: DataFrame, corpusSigs: DataFrame): DataFrame =
        Dedup.simHashPairsAcross(newSigs, corpusSigs, maxDist)
    }

    /** Acoustic fingerprint ([[graft.llm.Multimodal
      * .audioFingerprint]]'s sketch, REAL PCM): container re-encodes
      * (WAV/AIFF/AU of the same samples) collide at Hamming 0; short
      * or undecodable clips emit no signature. */
    final case class AudioFingerprint(maxDist: Int = 3,
                                      contentCol: String = "content")
        extends SigScheme {
      def signatures(batch: DataFrame, idCol: String): DataFrame =
        graft.llm.Multimodal.audioFingerprint(batch, idCol, contentCol)
          .select(col(idCol).as("id"), col("afp").as("simhash"))
          .where(col("simhash").isNotNull)
      def pairs(newSigs: DataFrame, corpusSigs: DataFrame): DataFrame =
        Dedup.simHashPairsAcross(newSigs, corpusSigs, maxDist)
    }
  }

  /** True when `dir` holds a readable parquet dataset. Uses an
    * actual read attempt rather than a top-level file listing, so
    * partitioned/bucketed layer layouts (subdirectories only at the
    * top level) are recognized too. */
  private def layerReadable(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[DataFrame] =
    try Some(graft.Writes.readParquet(spark, dir))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** One ingest step, run per micro-batch by [[nearDupIngest]] and
    * [[mediaNearDupIngest]]: publishes the surviving docs to
    * `corpusDir` and their signatures to `sigDir`.
    *
    * Signatures are computed ONCE per batch and shared by the
    * within-batch pairing and the layer join. Documents too short to
    * carry a signature (< 3 tokens) can never near-dup match, so they
    * always survive to the corpus (they are exact-dedup territory);
    * they simply contribute no signature rows.
    *
    * IDEMPOTENT REPLAY: `foreachBatch` is at-least-once — a crash
    * between the two output writes replays the whole batch under the
    * SAME `batchId`. Both outputs land in batch-keyed partition
    * directories (`<dir>/ingest_batch=<id>`) written with overwrite,
    * so a replay REPLACES the previous attempt's files instead of
    * appending duplicates; and the layer join EXCLUDES this batch's
    * own `ingest_batch` partition, so a replay whose first attempt
    * already published signatures doesn't self-match every survivor
    * into oblivion. Readers of the corpus / layer see one extra
    * `ingest_batch` partition column. */
  private[graft] def ingestBatch(batch: DataFrame, corpusDir: String,
                                 sigDir: String, threshold: Double = 0.7,
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 batchId: Long): Unit =
    ingestBatchWith(batch, corpusDir, sigDir,
      SigScheme.MinHash(threshold, textCol), idCol, batchId)

  /** [[ingestBatch]] generalized over the sketch ([[SigScheme]]) —
    * the replay contract, write ordering, and cache lifecycle are
    * identical for every scheme. */
  private[graft] def ingestBatchWith(batch: DataFrame, corpusDir: String,
                                     sigDir: String, scheme: SigScheme,
                                     idCol: String, batchId: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    // the clustering path (connectedComponents driver union-find) and
    // the empty-layer stub are long-typed; fail fast on ids that
    // cannot widen, and widen integral ids up front rather than
    // crashing with a mid-job ClassCastException
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType)
        .contains(batch.schema(idCol).dataType),
      s"ingestBatch: $idCol must be an integral id column " +
        s"(got ${batch.schema(idCol).dataType}); hash string ids to " +
        "int64 first (e.g. xxhash64)")
    val spark = batch.sparkSession
    // a crashed compaction's committed swap lands before the layer
    // join reads sigDir
    Seq(corpusDir, sigDir).foreach(graft.llm.Swap.completePending(spark, _))
    val b = batch.withColumn(idCol, col(idCol).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sigs = scheme.signatures(b, idCol)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // within-batch near-dup clusters: drop non-representatives.
        // Cross-pairing a side with itself emits both directions and
        // self pairs — restrict to the upper triangle first.
        val within = scheme.pairs(sigs, sigs)
          .filter(col("id_new") < col("id_corpus"))
          .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
        val comps = Dedup.connectedComponents(within)
        // materialize the dropped-id set, then release comps: the
        // distributed CC branch returns a PERSISTED labels frame that
        // would otherwise leak one cache entry per micro-batch
        val dropWithin = comps.filter(col("id") =!= col("component"))
          .select(col("id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        dropWithin.count()
        comps.unpersist()
        val keptSigs = sigs.join(dropWithin, Seq("id"), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val dupIds = layerReadable(spark, sigDir) match {
            case Some(layer) =>
              // replay guard: a prior attempt of THIS batch may have
              // already published its signature partition — joining
              // against it would self-match every survivor
              scheme.pairs(keptSigs,
                  layer.filter(col("ingest_batch") =!= batchId))
                .select(col("id_new").as("id")).distinct()
                .persist(StorageLevel.MEMORY_AND_DISK)
            case None => spark.emptyDataFrame
              .withColumn("id", lit(0L)).limit(0)
          }
          try {
            val survivorSigs = keptSigs.join(dupIds, Seq("id"), "left_anti")
              .persist(StorageLevel.MEMORY_AND_DISK)
            try {
              // ORDER MATTERS: corpus first, signature layer last. The
              // survivors plan READS sigDir (the LSH anti-join), and
              // any write to sigDir invalidates every cached plan over
              // that path (Spark recacheByPath) — appending signatures
              // first would make the corpus write re-execute the
              // anti-join against a layer that now contains this
              // batch's own signatures, self-matching every survivor
              // to emptiness.
              val dropAll = dropWithin.unionByName(dupIds)
                .withColumnRenamed("id", idCol)
              val survivors = b.join(dropAll, Seq(idCol), "left_anti")
              // batch-keyed overwrite: replay replaces, never appends
              survivors.write.mode("overwrite")
                .parquet(s"$corpusDir/ingest_batch=$batchId")
              survivorSigs.write.mode("overwrite")
                .parquet(s"$sigDir/ingest_batch=$batchId")
            } finally { survivorSigs.unpersist(); () }
          } finally {
            dupIds match {
              case d if d.storageLevel != StorageLevel.NONE =>
                d.unpersist(); ()
              case _ => ()
            }
          }
        } finally { keptSigs.unpersist(); () }
      } finally { sigs.unpersist(); () }
    } finally { b.unpersist(); () }
  }

  /** The one micro-batch driver behind every streaming face in this
    * object: an append-mode `foreachBatch(step)` under the caller's
    * trigger. AvailableNow is every face's default (drain-and-stop,
    * the batch-backfill mode); pass ProcessingTime for a continuously
    * running stream. The checkpoint (source offsets + committed batch
    * ids) lives at `checkpointDir`, by default `<stateDir>/_checkpoints`
    * under the face's own state or report layer — without one, every
    * restart would replay the whole source. `step` gets the
    * micro-batch and its id; every step publishes batch-keyed
    * (`ingest_batch=<id>` overwrite), so the at-least-once replay of
    * an uncommitted batch after a crash REPLACES its partitions
    * instead of doubling them. */
  private def microBatches(stream: DataFrame, stateDir: String,
                           checkpointDir: Option[String],
                           trigger: Trigger)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$stateDir/_checkpoints"))
      .foreachBatch { (batch: Dataset[Row], bid: Long) => step(batch, bid) }
      .trigger(trigger)
      .start()

  /** The streaming wrapper: foreachBatch over a document stream. The
    * checkpoint (source offsets + batch ids) defaults to a hidden dir
    * under the signature layer — without one, every restart would
    * replay the whole source, re-appending the sub-3-token documents
    * that intentionally bypass the signature layer. The micro-batch id
    * flows into [[ingestBatch]], so both sinks use batch-keyed
    * overwrite publishing and an at-least-once replay is idempotent
    * (see ingestBatch's replay contract). */
  def nearDupIngest(docs: DataFrame, corpusDir: String, sigDir: String,
                    threshold: Double = 0.7, textCol: String = "text",
                    idCol: String = "doc_id",
                    checkpointDir: Option[String] = None,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    microBatches(docs, sigDir, checkpointDir, trigger) { (batch, bid) =>
      ingestBatch(batch, corpusDir, sigDir, threshold, textCol, idCol, bid)
    }

  /** One tokenizer-drift step: encode the micro-batch with a FROZEN
    * WordPiece model (trained once on `trainDocs` — the trainer is
    * memoized on the canonicalized corpus plan, so repeated batches
    * reuse it) and publish the batch's fit summary: fertility
    * creeping up or [UNK] words appearing means the incoming stream
    * is drifting away from the vocabulary the model was trained on —
    * the tokenizer-side early-warning a training pipeline wants
    * BEFORE the model sees the data. Batch-keyed overwrite partition
    * like every report layer (at-least-once replay idempotent). */
  private[graft] def fertilityBatch(batch: DataFrame,
                                    trainDocs: DataFrame,
                                    reportDir: String, merges: Int = 8,
                                    textCol: String = "text",
                                    idCol: String = "doc_id",
                                    batchId: Long): Unit =
    graft.llm.TextAnalysis.wordpieceEncode(trainDocs, merges, textCol,
        idCol, applyTo = Some(batch))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_wp_tokens")).as("n_wp_tokens"),
        sum(col("n_unk_words")).as("n_unk_words"),
        round(sum(col("n_wp_tokens")).cast("double") /
          sum(col("n_tokens")).cast("double"), 6).as("fertility"))
      .write.mode("overwrite")
      .parquet(s"$reportDir/ingest_batch=$batchId")

  /** Streaming tokenizer-drift monitor: [[fertilityBatch]] over a
    * document stream. Stateless (the frozen model is the only
    * standing artifact and it lives in the memo registry). */
  def fertilityMonitor(docs: DataFrame, trainDocs: DataFrame,
                       reportDir: String, merges: Int = 8,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       checkpointDir: Option[String] = None,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    microBatches(docs, reportDir, checkpointDir, trigger) { (batch, bid) =>
      fertilityBatch(batch, trainDocs, reportDir, merges,
        textCol, idCol, batchId = bid)
    }

  /** Streaming media ingest: [[nearDupIngest]] generalized over the
    * sketch — pass [[SigScheme.BlobSimHash]] for codec-free
    * near-identical blobs, [[SigScheme.ImagePhash]] for an image
    * stream or [[SigScheme.AudioFingerprint]] for audio, and
    * re-encoded / near-identical media dedups against the standing
    * corpus through an 8-bytes-per-blob signature layer (a 100 TB
    * media store's layer is a few GB). Blobs a perceptual scheme
    * cannot sign (undecodable, too short) always survive — chain a
    * [[SigScheme.BlobSimHash]] pass for codec-free cover of those.
    * Same idempotent-replay contract as [[ingestBatch]]; within-batch
    * duplicate groups keep their min-id representative. */
  def mediaNearDupIngest(blobs: DataFrame, corpusDir: String,
                         sigDir: String, scheme: SigScheme,
                         idCol: String = "media_id",
                         checkpointDir: Option[String] = None,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    microBatches(blobs, sigDir, checkpointDir, trigger) { (batch, bid) =>
      ingestBatchWith(batch, corpusDir, sigDir, scheme, idCol, bid)
    }

  /** One streaming count-min step: the micro-batch's token stream
    * collapsed to its OWN `depth x width` sketch, published under
    * `ingest_batch=<id>` with overwrite — count-min sketches are
    * MERGEABLE (cell-wise sums, Agarwal et al. 2013), so the
    * standing corpus frequency summary is just the cell-wise sum of
    * the batch sketches ([[cmsLayerRead]]), the publishing is
    * idempotent under at-least-once replay (a replayed batch
    * REPLACES its own partition, never double-counts), and total
    * state is ≤ batches·depth·width rows — [[cmsCompact]] folds the
    * committed prefix back to d·w rows whenever convenient,
    * summation is associative. The streaming face of
    * [[graft.llm.HeavyHitters.cmsSketch]]. */
  def cmsBatch(batch: DataFrame, sketchDir: String, depth: Int = 4,
               width: Int = 16, seed: Long = 7L,
               textCol: String = "text", batchId: Long): Unit = {
    publishGeometry(batch.sparkSession, sketchDir, depth, width, seed)
    graft.llm.HeavyHitters.cmsSketch(
        batch.select(explode(
          graft.llm.TextAnalysis.tokens(col(textCol))).as("token")),
        "token", depth, width, seed)
      .write.mode("overwrite")
      .parquet(s"$sketchDir/ingest_batch=$batchId")
  }

  /** Publish the layer's `(depth, width, seed)` as a `_geometry.json`
    * sidecar (underscore-prefixed — invisible to parquet discovery).
    * A layer must be geometry-HOMOGENEOUS to be cell-wise summable,
    * so a second writer with different parameters fails fast here
    * instead of silently publishing unmergeable cells; readers
    * ([[cmsLayerGeometry]]) re-derive the probe parameters from the
    * sidecar instead of re-passing them (the mismatch ADVICE
    * documented: a layer written at non-default width, later probed
    * with defaults, underestimates and breaks one-sided error). */
  /** Serializes concurrent [[publishGeometry]] calls in this JVM —
    * two batch publishes of the SAME layer may run as concurrent
    * driver jobs (the overlapped-publish pattern), and an
    * unsynchronized exists-then-create let one thread open a
    * just-truncated sidecar (ADVICE r20). */
  private val geometryLock = new Object

  private def publishGeometry(spark: org.apache.spark.sql.SparkSession,
                              sketchDir: String, depth: Int,
                              width: Int, seed: Long): Unit =
    geometryLock.synchronized {
      val existing = cmsLayerGeometry(spark, sketchDir)
      existing match {
        case Some((d, w, s)) =>
          require(d == depth && w == width && s == seed,
            s"CMS layer $sketchDir was built with depth=$d width=$w " +
              s"seed=$s; refusing to publish a depth=$depth " +
              s"width=$width seed=$seed batch into it")
        case None =>
          // write-to-temp-then-rename: a reader (or a concurrent
          // writer in ANOTHER process) never observes a partially
          // written sidecar — it sees either no file or a complete one
          val p = new org.apache.hadoop.fs.Path(
            s"$sketchDir/_geometry.json")
          val tmp = new org.apache.hadoop.fs.Path(
            s"$sketchDir/._geometry.json.tmp-" +
              java.util.UUID.randomUUID().toString)
          val fs = p.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val out = fs.create(tmp, true)
          try out.write(
            s"""{"depth":$depth,"width":$width,"seed":$seed}"""
              .getBytes("UTF-8"))
          finally out.close()
          if (!fs.rename(tmp, p)) {
            // another writer won the publish: keep theirs, verify ours
            // agrees (geometry homogeneity), drop the temp
            fs.delete(tmp, false)
            cmsLayerGeometry(spark, sketchDir) match {
              case Some((d, w, s)) =>
                require(d == depth && w == width && s == seed,
                  s"CMS layer $sketchDir was concurrently published " +
                    s"with depth=$d width=$w seed=$s; refusing a " +
                    s"depth=$depth width=$width seed=$seed batch")
              case None => throw new IllegalStateException(
                s"could not publish $p (rename failed, no sidecar)")
            }
          }
      }
    }

  /** Read a CMS layer's published `(depth, width, seed)` back from
    * its `_geometry.json` sidecar — the authoritative probe
    * parameters for [[graft.llm.HeavyHitters.cmsLookup]] /
    * `windowedTrending` over this layer. None when the layer has
    * never been written. */
  def cmsLayerGeometry(spark: org.apache.spark.sql.SparkSession,
                       sketchDir: String): Option[(Int, Int, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$sketchDir/_geometry.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val txt = graft.Writes.readUtf8(fs, p)
      def field(k: String): Long = {
        val m = java.util.regex.Pattern.compile(s""""$k":(-?\\d+)""")
          .matcher(txt)
        require(m.find(), s"malformed $p: $txt")
        m.group(1).toLong
      }
      Some((field("depth").toInt, field("width").toInt, field("seed")))
    }
  }

  /** The standing sketch: cell-wise sum over every published batch
    * sketch — `(row, bucket, cnt)`, ≤ depth·width rows, ready for
    * [[graft.llm.HeavyHitters.cmsLookup]] point estimates. Empty
    * (no published batches) reads as an empty sketch. Refuses a
    * layer with a compaction or takedown swap pending. */
  def cmsLayerRead(spark: org.apache.spark.sql.SparkSession,
                   sketchDir: String): DataFrame = {
    graft.llm.Swap.requireSettled(spark, sketchDir)
    layerReadable(spark, sketchDir) match {
      case Some(l) => l.groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      case None =>
        import spark.implicits._
        Seq.empty[(Int, Long, Long)].toDF("row", "bucket", "cnt")
    }
  }

  /** Compact a CMS layer: fold every batch sketch at or below the
    * `watermark` batch id (including earlier compaction results)
    * into ONE summed sketch — state drops from `batches·d·w` rows
    * to `d·w + tail`, and the fold is exact because count-min cells
    * sum associatively. The result is published under the RESERVED
    * partition id `-(watermark+1)`: batch ids are non-negative, so a
    * compacted partition can never collide with a live or replayed
    * batch, and successive compactions at growing watermarks fold
    * prior compacts in turn (`-(w1+1)` is covered by any
    * `w2 >= w1`).
    *
    * REPLAY CONTRACT: pick `watermark` at or below the newest batch
    * id the stream's checkpoint shows COMMITTED minus any in-flight
    * tail — Structured Streaming only ever replays uncommitted
    * batches, whose ids are all above that, and their partitions are
    * untouched here, so replay-after-compaction keeps the exact
    * overwrite idempotency of [[cmsBatch]].
    *
    * CRASH SAFETY: the fold commits through [[graft.llm.Swap]] (see
    * [[compactPartitions]]): the summed cells stage invisibly, the
    * marker commits, and only then do the target and its sources
    * swap, so a crash at any point recovers to the layer before or
    * after the fold, and [[cmsLayerRead]] refuses a half-swapped
    * layer. A rerun at the same watermark is a no-op.
    *
    * Scale: the summed sketch is ≤ d·w rows — the fold's shuffle
    * moves at most that, and the driver materialization is the same
    * fixed-size state every CMS path already holds. */
  def cmsCompact(spark: org.apache.spark.sql.SparkSession,
                 sketchDir: String, watermark: Long): Unit =
    compactPartitions(spark, sketchDir, watermark) { covered =>
      covered.groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
        .coalesce(1)
    }

  /** [[cmsCompact]]'s protocol for the NON-summable ingest layers
    * (the signature layer and the corpus layer, whose per-batch
    * partitions accumulate exactly like the sketch's — the
    * small-files problem at 100 TB): fold every batch partition at
    * or below `watermark` into ONE partition holding the SAME rows,
    * rewritten as `targetFiles` right-sized files. Same reserved
    * negative partition id, same [[graft.llm.Swap]] commit, same
    * replay contract — and the layer's replay guard
    * (`ingest_batch =!= batchId` in [[ingestBatchWith]]) keeps working
    * because a compact partition's negative id never equals a batch
    * id. Size `targetFiles` from the layer's byte count over the
    * shard-size target (the `writeShardedBalanced` rule). A BM25
    * postings layer ([[graft.llm.TextAnalysis.bm25PostingsBatch]])
    * compacts as postings and stats at one watermark — one call per
    * subdir, the same `watermark` — so the two stay id-aligned for
    * [[graft.llm.Takedown.bm25Takedown]]; each call refuses while a
    * takedown of the enclosing layer has a swap pending. */
  def ingestLayerCompact(spark: org.apache.spark.sql.SparkSession,
                         layerDir: String, watermark: Long,
                         targetFiles: Int = 1): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive")
    compactPartitions(spark, layerDir, watermark)(
      _.repartition(targetFiles))
  }

  /** The `ingest_batch=<id>` partitions directly under `root`, with
    * their ids: a batch id is non-negative, a compact covering every
    * batch ≤ k is `-(k+1)`. The one parser of batch partition names. */
  private[graft] def batchPartitions(fs: org.apache.hadoop.fs.FileSystem,
                                     root: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.Path, Long)] =
    fs.listStatus(root).toSeq.map(_.getPath).flatMap { p =>
      if (p.getName.startsWith(BatchPrefix))
        p.getName.drop(BatchPrefix.length).toLongOption.map(p -> _)
      else None
    }

  private val BatchPrefix = "ingest_batch="

  /** AS-OF read of a batch-keyed layer — time travel to an ingest
    * horizon: the layer as it stood when batch `asOf` was the newest
    * committed batch (live partitions with id ≤ asOf, plus compacts
    * whose coverage fits entirely inside the horizon). Batch ids are
    * the clock, so a pinned `asOf` makes an experiment reproducible
    * against a layer that keeps ingesting — the corpus snapshot a
    * training run should record alongside its config.
    *
    * Partition selection is directory-level (nothing is read to
    * decide), and the `basePath` option keeps `ingest_batch` as a
    * column, so downstream pruning behaves exactly like a full-layer
    * read. A compact partition whose coverage extends PAST the
    * horizon (`-(k+1)` with k > asOf) folded post-horizon mass
    * irreversibly — the call fails fast with the scheduling fix
    * (keep compaction watermarks at or behind every horizon you
    * still need), the same alignment contract retention enforces.
    * Like every serve, it refuses a layer with a committed compaction
    * swap pending ([[graft.llm.Swap.requireSettled]]). */
  def layerReadAsOf(spark: org.apache.spark.sql.SparkSession,
                    layerDir: String, asOf: Long): DataFrame = {
    require(asOf >= 0, s"asOf must be >= 0, got $asOf")
    val root = new org.apache.hadoop.fs.Path(layerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"layerReadAsOf: $layerDir is absent")
    graft.llm.Swap.requireSettled(spark, layerDir)
    val parts = batchPartitions(fs, root)
    parts.foreach { case (p, id) =>
      if (id < 0) require(-id - 1 <= asOf,
        s"layerReadAsOf: compact partition ${p.getName} folds " +
          s"batches <= ${-id - 1}, past the asOf=$asOf horizon — " +
          s"post-horizon mass is irreversibly mixed in; keep " +
          s"compaction watermarks at or behind every horizon you " +
          s"still need")
    }
    val keep = parts.collect {
      case (p, id) if (id >= 0 && id <= asOf) || id < 0 => p.toString
    }
    require(keep.nonEmpty,
      s"layerReadAsOf: no partition at or before asOf=$asOf")
    spark.read.option("basePath", layerDir)
      .parquet(keep.toIndexedSeq: _*)
  }

  /** Retention age-out for a batch-keyed layer: DELETE every batch
    * partition whose id is below `keepFrom` — the data-retention
    * compliance sibling of [[graft.llm.Takedown]] (takedown removes
    * named ids everywhere; retention removes everything older than a
    * cutoff). Batch ids are the retention clock: a stream that opens
    * one batch per ingest window makes `keepFrom` a time horizon.
    *
    * Scale: whole-partition deletes — no rewrite, no shuffle, no data
    * read; cost is a directory listing plus one row-count over the
    * dropped partitions for the audit (an empty-schema scan: row
    * counts come from parquet footers). At 100 TB this is the ONLY
    * affordable age-out shape, which is why the layers partition by
    * batch id in the first place.
    *
    * Compacted partitions: `-(k+1)` holds the folded mass of every
    * batch ≤ k. It is dropped iff `k < keepFrom` (entirely
    * pre-cutoff). If the cutoff STRADDLES a compact's coverage
    * (`0 < keepFrom <= k`), the pre-cutoff mass cannot be split back
    * out without a rebuild — the call fails fast BEFORE any delete,
    * with the fix in the message: compact at `watermark = keepFrom-1`
    * first, so compaction windows align with retention windows (the
    * schedule a retention-governed layer should run anyway).
    *
    * Crash safety: the entry first lands a pending compaction swap
    * ([[graft.llm.Swap.completePending]]), so the straddle guard sees
    * a committed fold before its sources go, and no later recovery
    * renames aged-out mass back in. Deletes of whole partitions are
    * idempotent, a rerun converges from any interruption point, and
    * the straddle guard re-evaluates on entry. Returns
    * (partitionsDropped, rowsDropped); (0, 0) when nothing is old
    * enough. Quiesce the writing stream first, as with any layer
    * maintenance. */
  def layerRetention(spark: org.apache.spark.sql.SparkSession,
                     layerDir: String, keepFrom: Long): (Long, Long) = {
    require(keepFrom >= 0, s"keepFrom must be >= 0, got $keepFrom")
    val root = new org.apache.hadoop.fs.Path(layerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || keepFrom == 0) return (0L, 0L)
    graft.llm.Swap.completePending(spark, layerDir)
    val parts = batchPartitions(fs, root)
    parts.foreach { case (p, id) =>
      if (id < 0) {
        val k = -id - 1
        require(k < keepFrom,
          s"layerRetention: compact partition ${p.getName} folds " +
            s"batches <= $k, straddling the keepFrom=$keepFrom cutoff " +
            s"— its pre-cutoff mass cannot be split back out; compact " +
            s"at watermark = ${keepFrom - 1} first so compaction " +
            s"windows align with retention windows")
      }
    }
    val drop = parts.filter { case (_, id) =>
      if (id >= 0) id < keepFrom else true // straddle guard passed:
        // every surviving compact is entirely pre-cutoff
    }
    if (drop.isEmpty) return (0L, 0L)
    val rows = spark.read
      .parquet(drop.map(_._1.toString): _*).count()
    drop.foreach { case (p, _) => fs.delete(p, true) }
    spark.catalog.refreshByPath(layerDir)
    (drop.length.toLong, rows)
  }

  /** The sources marker an earlier build's rename-then-delete
    * compaction put in each compact. Never written or parsed here. */
  private val LegacySourcesMarker = "_COMPACT_SOURCES"

  /** That build's unsettled state among `parts`, if any: a compact
    * holding [[LegacySourcesMarker]] beside a partition it covers,
    * described with its fixes. One `exists` per compact. */
  private[graft] def legacyCompactLeftover(
      fs: org.apache.hadoop.fs.FileSystem,
      parts: Seq[(org.apache.hadoop.fs.Path, Long)]): Option[String] =
    parts.iterator.filter { case (cp, cid) => cid < 0 &&
        fs.exists(new org.apache.hadoop.fs.Path(cp, LegacySourcesMarker)) }
      .flatMap { case (cp, cid) =>
        parts.collectFirst { case (p, id)
          if id != cid && coverage(id) <= coverage(cid) =>
          s"$cp holds an earlier build's $LegacySourcesMarker while $p, " +
            "which it covers, still stands. That build left this " +
            "state either when a crash cut its compaction short (the " +
            "partition is already folded) or on purpose (a late batch " +
            "under a covered id, not folded); this build cannot tell " +
            "which. Compact once with that build at a watermark above " +
            s"${coverage(cid)}, or check $p against the marker's file " +
            "list and delete by hand the partition (listed) or the " +
            "marker (not listed)"
        }
      }.nextOption()

  /** The newest batch id a partition holds mass of. */
  private def coverage(id: Long): Long = if (id >= 0) id else -id - 1

  /** The shared compaction body: ONE [[graft.llm.Swap]] commit whose
    * target `-(watermark+1)` gets `fold` of every partition the
    * watermark covers (batch ids ≤ watermark, compacts
    * `-(id)-1 ≤ watermark`, the target itself included) and whose
    * other covered partitions go. No-op on an absent `dir` or when
    * the target is the only covered partition; a batch landing late
    * under a covered id folds at the next compaction.
    *
    * Refuses while `dir`'s parent has a committed swap pending (a
    * BM25 subdir under a pending `bm25Takedown` would fold undebited
    * stats that its recovery renames back in), and refuses an
    * earlier build's unsettled compact ([[legacyCompactLeftover]]). That
    * build's `_compact_tmp_*` dirs were never renamed in: deleted. */
  private[graft] def compactPartitions(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, watermark: Long)
      (fold: DataFrame => DataFrame): Unit = {
    require(watermark >= 0, s"watermark must be >= 0, got $watermark")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    Option(root.getParent).foreach(p =>
      graft.llm.Swap.requireSettled(spark, p.toString))
    graft.llm.Swap.completePending(spark, dir)
    val parts = batchPartitions(fs, root)
    legacyCompactLeftover(fs, parts).foreach { why =>
      throw new IllegalStateException(s"compactPartitions: $why")
    }
    fs.globStatus(new org.apache.hadoop.fs.Path(root, "_compact_tmp_*"))
      .foreach(st => fs.delete(st.getPath, true))
    val covered = parts.collect {
      case (p, id) if coverage(id) <= watermark => p }
    val target = s"$BatchPrefix${-(watermark + 1)}"
    if (covered.forall(_.getName == target)) return
    graft.llm.Swap.commit(spark, dir,
        target +: covered.map(_.getName).filter(_ != target)) { tmp =>
      fold(graft.Writes.readParquet(spark, covered.map(_.toString): _*))
        .write.parquet(new org.apache.hadoop.fs.Path(tmp, target).toString)
    }
  }

  /** Index-drift monitor: per micro-batch of embeddings, the
    * [[graft.llm.Similarity.indexFitReport]] gauge against the
    * standing index's sidecar centroids, published batch-keyed
    * (overwrite ⇒ replay replaces) — rising `mean_sqdist` /
    * `frac_beyond` across batches is the measured signal to run the
    * refresh trilogy (kmeansUpdate → cellMigration → ivfPatchIndex)
    * BEFORE recall degrades. The monitor never retrains and never
    * touches the index itself — pure observation, one narrow pass
    * per batch, one row of state each. */
  def ivfFitMonitor(vectors: DataFrame, indexDir: String,
                    reportDir: String, tau: Double,
                    vecCol: String = "embedding",
                    checkpointDir: Option[String] = None,
                    trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    microBatches(vectors, reportDir, checkpointDir, trigger) { (batch, bid) =>
      val cents = graft.llm.Similarity.servedModel(batch.sparkSession,
        indexDir, graft.llm.Similarity.IvfLayout).head
      graft.llm.Similarity.indexFitReport(batch, cents, tau, vecCol)
        .write.mode("overwrite")
        .parquet(s"$reportDir/ingest_batch=$bid")
    }

  /** Codebook-drift monitor — [[ivfFitMonitor]]'s PQ sibling: per
    * micro-batch of embeddings, the
    * [[graft.llm.Similarity.pqFitReport]] quantization-error gauge
    * against the standing [[graft.llm.Similarity.pqWriteIndex]]
    * layout's `_books.txt` sidecar, published batch-keyed (overwrite
    * ⇒ replay replaces). Rising `mean_qerr` / `frac_beyond` is the
    * measured signal to retrain books and run
    * [[graft.llm.Similarity.pqPatchIndexAuto]] BEFORE ADC ranking
    * quality degrades. Pure observation — never retrains, never
    * touches the code table; one narrow pass per batch, one row of
    * state each. */
  def pqFitMonitor(vectors: DataFrame, indexDir: String,
                   reportDir: String, tau: Double,
                   vecCol: String = "embedding",
                   checkpointDir: Option[String] = None,
                   trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    microBatches(vectors, reportDir, checkpointDir, trigger) { (batch, bid) =>
      val books = graft.llm.Similarity.servedModel(batch.sparkSession,
        indexDir, graft.llm.Similarity.PqLayout)
      graft.llm.Similarity.pqFitReport(batch, books, tau, vecCol)
        .write.mode("overwrite")
        .parquet(s"$reportDir/ingest_batch=$bid")
    }
}
