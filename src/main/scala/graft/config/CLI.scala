package graft.config

import graft.access.Access
import graft.loc.Mappings
import graft.model._
import graft.rep.Repetition
import graft.task.PTask
import graft.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline CLI — the reference's `runPipelineTask` command surface
  * (Run.hs:72-149, CLI.hs:66-84):
  *
  * {{{
  * graft.Main <pipeline> run [spec.yaml|-] [--loc p=l|p+=l] [--var k=v] [-o k=v]
  * graft.Main <pipeline> show-tree [spec.yaml]
  * graft.Main <pipeline> write-config-template
  * graft.Main list
  * }}}
  *
  * Config modes map to the reference's NoConfig / ConfigFileOnly /
  * FullConfig (Run.hs:197-264): no spec file -> defaults only; spec
  * file -> spec; plus CLI flags -> spec overridden flag-by-flag.
  */
object CLI {

  /** Recursively delete a pipeline-owned layer directory — but only
    * after verifying it actually LOOKS like a layer layout. The
    * layer's location is user-rebindable (`--loc`), so a mistyped or
    * mis-bound path must not silently rm -rf an arbitrary directory.
    * Recognized children: the partition families the engine writes
    * (`ingest_batch=`/`cell_id=`/`pq_bucket=`), the bm25 split
    * (`postings`/`stats`, plus the `termdf` sidecar earlier builds
    * wrote, each checked one level down), protocol
    * temp dirs and sidecars (underscore/dot names), and parquet part
    * files. Anything else fails fast with the offending entries. */
  private[graft] def deleteLayerDirGuarded(
      fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(lp)) return
    def foreign(st: org.apache.hadoop.fs.FileStatus,
                depth: Int): Seq[String] = {
      val n = st.getPath.getName
      val ok = n.startsWith("_") || n.startsWith(".") ||
        n.startsWith("ingest_batch=") || n.startsWith("cell_id=") ||
        n.startsWith("pq_bucket=") || n.startsWith("part-") ||
        n.endsWith(".parquet")
      if (ok) Nil
      else if (st.isDirectory && depth == 0 &&
          (n == "postings" || n == "stats" || n == "termdf"))
        fs.listStatus(st.getPath).toSeq.flatMap(foreign(_, 1))
      else Seq(n)
    }
    val bad = fs.listStatus(lp).toSeq.flatMap(foreign(_, 0))
    require(bad.isEmpty,
      s"refusing to delete $lp: it does not look like a layer " +
        s"layout (unexpected entries: ${bad.take(5).mkString(", ")}) " +
        "— check the --loc binding for the layer sink")
    fs.delete(lp, true)
  }

  /** A runnable, spec-bindable pipeline: a task + its option schema. */
  final case class Registered(
      name: String,
      doc: String,
      options: OptionsSchema,
      build: (SparkSession, Map[String, OptValue]) => PTask[Unit, _])

  /** Built-in demo pipelines over the test star schema; user libraries
    * add their own via [[register]]. */
  val registry: Map[String, Registered] = Map(
    "orders_report" -> Registered(
      "orders_report",
      "group orders by status, write a summary report (memo-cached)",
      OptionsSchema(Seq(
        OptField("minPrice", Some(OptNum(0)), "ignore orders cheaper than this"))),
      (spark, opts) => {
        val minPrice = opts("minPrice").num
        val src = VirtualFile(VPath("/orders"), Seq("parquet"), Usage.Source)
        val snk = VirtualFile(VPath("/Outputs/report"), Seq("parquet", "csv"),
          Usage.Sink)
        // the reference's toTaskAndWrite shape (Caching.hs:52-123): the
        // aggregation is content-hash memoized, keyed by its parameter
        // + the resolved input locations and their fingerprints
        // (rebind or upstream rewrite -> rerun, PorcupineTree.hs:123-129);
        // with no cache root configured it degrades to a plain compute
        Access.getDataReader(src) >>>
          PTask.cachedTask[Access.DataReader]("orders_report_v1",
            (ctx, r) => minPrice.toString +:
              (r.paths ++ r.paths.map(p => ctx.cache.get.fingerprint(p)))) {
            (_, r) =>
              r.read().filter(col("o_totalprice") >= minPrice)
                .groupBy(col("o_orderstatus"))
                .agg(count(lit(1)).as("n"),
                  sum(col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double").as("total"))
          } >>>
          Access.writeData(snk)
      }),

    // The llm pack driven through the task algebra: a reference-style
    // pipeline (virtual files, documented options, memo-able shape)
    // whose body is the round-10 curation chain — proof the two
    // halves of the library compose: porcupine-surface lifecycle
    // around Spark-native corpus operators.
    "curate" -> Registered(
      "curate",
      "LLM-corpus curation: length gate -> verified near-dup dedup " +
        "-> duplicate-aware weights, written as parquet",
      OptionsSchema(Seq(
        OptField("minTokens", Some(OptNum(20)),
          "drop docs with fewer tokens than this"),
        OptField("tau", Some(OptNum(0.8)),
          "edit-similarity threshold confirming a candidate pair"),
        OptField("estThreshold", Some(OptNum(0.35)),
          "MinHash-LSH candidate threshold (permissive stage 1)"))),
      (spark, opts) => {
        val minTokens = opts("minTokens").num
        val tau = opts("tau").num
        val est = opts("estThreshold").num
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val snk = VirtualFile(VPath("/Outputs/curated"), Seq("parquet"),
          Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.llm.{Dedup, TextAnalysis}
            val gated = r.read()
              .filter(TextAnalysis.tokenCount(col("text")) >= minTokens)
            val vp = Dedup.verifiedNearDupPairs(gated, tau, est)
              .filter(col("verified"))
              .select(col("id_a"), col("id_b"))
            val kept = Dedup.keepRepresentatives(gated,
              Dedup.connectedComponents(vp))
            // each representative carries its cluster size and the
            // unit-mass weight, so downstream sampling can soft-count
            kept.join(Dedup.nearDupWeights(gated, vp), Seq("doc_id"))
          } >>>
          Access.writeData(snk)
      }),

    // The dedup AUDIT through the lifecycle: per-doc provenance
    // (first claiming stage + direct representative) to one sink,
    // the surviving corpus to another — ship the cleaned corpus WITH
    // the table that explains every removal (the safety pipeline's
    // two-sink shape).
    "dedup_audit" -> Registered(
      "dedup_audit",
      "staged dedup provenance: per-doc (stage, keep_id) lineage " +
        "plus the kept-only corpus",
      OptionsSchema(Seq(
        OptField("threshold", Some(OptNum(0.35)),
          "MinHash-Jaccard candidate threshold for the near-dup stage"))),
      (spark, opts) => {
        val thr = opts("threshold").num
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val linSnk = VirtualFile(VPath("/Outputs/lineage"),
          Seq("parquet"), Usage.Sink)
        val keptSnk = VirtualFile(VPath("/Outputs/deduped"),
          Seq("parquet"), Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.llm.Dedup
            val docs = r.read()
            val lineage = Dedup.dedupLineage(docs,
              Dedup.connectedComponents(
                Dedup.minHashPairs(docs, threshold = thr)
                  .select(col("id_a"), col("id_b"))))
              .persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK)
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), lineage))
            val kept = docs.join(
              lineage.filter(col("stage") === "kept")
                .select(col("doc_id")), Seq("doc_id"))
            (lineage, kept)
          } >>>
          // lineage first, not `***`: a corpus whose lineage write
          // failed must not be published without it
          Access.writeData(linSnk).first[DataFrame] >>>
          Access.writeData(keptSnk).second[Unit]
      }),

    // The crawl->clean-text extraction chain through the lifecycle:
    // strip markup, apply the C4 line/page rules, canonicalize
    // (NFC+lower+collapse, optional accent fold) — the stage every
    // text operator downstream assumes has already run.
    "preprocess" -> Registered(
      "preprocess",
      "extraction chain: html strip -> C4 line/page gate -> " +
        "normalize (+ optional accent fold), kept docs as parquet",
      OptionsSchema(Seq(
        OptField("minWordsPerLine", Some(OptNum(3)),
          "C4: minimum words for a line to survive"),
        OptField("foldAccents", Some(OptBool(false)),
          "also accent-fold the cleaned text"))),
      (spark, opts) => {
        val minWords = opts("minWordsPerLine").num.toInt
        val foldAcc = opts("foldAccents").bool
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val snk = VirtualFile(VPath("/Outputs/clean"), Seq("parquet"),
          Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.llm.TextAnalysis
            val stripped = TextAnalysis.htmlStrip(r.read(),
                minTags = 2)
              .select(col("doc_id"), col("text_clean").as("text"))
            val gated = TextAnalysis.c4Filter(stripped,
                minWordsPerLine = minWords)
              .filter(col("kept")).select(col("doc_id"))
            val norm0 = TextAnalysis.normalizeText(col("text"))
            val norm = if (foldAcc) TextAnalysis.accentFold(norm0)
                       else norm0
            stripped.join(gated, Seq("doc_id"))
              .select(col("doc_id"), norm.as("text"))
          } >>>
          Access.writeData(snk)
      }),

    // The compliance sweep through the same task-algebra lifecycle:
    // per-doc typed-PII/blocklist/secret verdicts to one sink, the
    // per-source rollup to another — one registered pipeline covers
    // both the review queue and the dashboard feed.
    "safety" -> Registered(
      "safety",
      "corpus safety scan: typed PII counts + blocklist + secret " +
        "entropy verdicts per doc, plus a per-source rollup",
      OptionsSchema(Seq(
        OptField("blockTerms", Some(OptStr("casino777")),
          "comma-separated blocklist terms"),
        OptField("minLen", Some(OptNum(20)),
          "minimum token length for secret candidates"),
        OptField("minEntropy", Some(OptNum(2.5)),
          "minimum char entropy (nats) for a secret verdict"))),
      (spark, opts) => {
        val terms = opts("blockTerms").render.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        val minLen = opts("minLen").num.toInt
        val minEnt = opts("minEntropy").num
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val docSnk = VirtualFile(VPath("/Outputs/safety"),
          Seq("parquet"), Usage.Sink)
        val rollSnk = VirtualFile(VPath("/Outputs/safety_by_source"),
          Seq("parquet"), Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            graft.llm.TextAnalysis.safetyScan(r.read(), terms,
              minLen, minEnt)
          } >>>
          // split the scan into the per-doc queue and the rollup —
          // both sinks from ONE cached pass over the corpus (pin
          // tracked by Pins, released at the app-end boundary)
          PTask.arr { (scan: org.apache.spark.sql.DataFrame) =>
            val parent = scan.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val rollup = parent.groupBy(col("source"))
              .agg(count(lit(1)).as("n_docs"),
                sum(col("n_email") + col("n_ip") + col("n_phone"))
                  .as("n_pii"),
                sum(col("n_blocked")).as("n_blocked"),
                sum(when(col("has_secret"), 1L).otherwise(0L))
                  .as("n_secret"),
                sum(when(col("flagged"), 1L).otherwise(0L))
                  .as("n_flagged"))
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), parent))
            (parent, rollup)
          } >>>
          (Access.writeData(docSnk) *** Access.writeData(rollSnk))
      }),

    // The index-maintenance family through the SAME config-bound
    // lifecycle as every other pipeline (the reference's whole point,
    // Run.hs:72-81): incremental build -> patch/compact -> serve, with
    // the index LAYER DIR and the serve table both virtual files, so
    // `--loc` rebinds move the index like any other location and
    // show-tree/write-config-template document it.
    // The tokenizer lifecycle through the config surface: train the
    // chosen family on the bound corpus and ship the model table +
    // the per-doc encode fit (fertility) as two sinks. The trainers
    // are memoized on the canonicalized corpus plan, so the train
    // and encode halves share one model computation.
    "tokenize" -> Registered(
      "tokenize",
      "tokenizer lifecycle: train (bpe | unigram | wordpiece) on the " +
        "bound corpus -> model table + per-doc encode fertility sinks",
      OptionsSchema(Seq(
        OptField("family", Some(OptStr("bpe")),
          "trainer family: bpe (count argmax) | unigram " +
            "(SentencePiece EM) | wordpiece (likelihood argmax)"),
        OptField("merges", Some(OptNum(8)),
          "merge rounds (bpe/wordpiece; unigram uses its seed+EM)"))),
      (spark, opts) => {
        val fam = opts("family").render
        require(Set("bpe", "unigram", "wordpiece")(fam),
          s"tokenize: unknown family '$fam' (bpe|unigram|wordpiece)")
        val merges = opts("merges").num.toInt
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val modelSnk = VirtualFile(VPath("/Outputs/model"),
          Seq("parquet"), Usage.Sink)
        val fertSnk = VirtualFile(VPath("/Outputs/fertility"),
          Seq("parquet"), Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.llm.TextAnalysis
            val docs = r.read()
            fam match {
              case "bpe" =>
                (TextAnalysis.bpeTrain(docs, merges),
                  TextAnalysis.bpeEncode(docs, merges))
              case "wordpiece" =>
                (TextAnalysis.wordpieceTrain(docs, merges),
                  TextAnalysis.wordpieceEncode(docs, merges))
              case _ =>
                (TextAnalysis.unigramTrain(docs),
                  TextAnalysis.unigramEncode(docs))
            }
          } >>>
          (Access.writeData(modelSnk) *** Access.writeData(fertSnk))
      }),

    // The STREAMING perceptual ingest through the lifecycle:
    // AvailableNow drains whatever is in the bound media directory
    // through the checkpointed signature dedup, so a config-bound
    // `run` is one incremental ingest step — rerun after new files
    // land and only they are read (the checkpoint lives with the
    // signature layer), deduping against the standing corpus.
    "media_ingest" -> Registered(
      "media_ingest",
      "streaming perceptual ingest (AvailableNow): binaryFile dir -> " +
        "kind-routed signature dedup vs the standing corpus; corpus + " +
        "signature layers as virtual dirs, batch summary sink",
      OptionsSchema(Seq(
        OptField("kind", Some(OptStr("image")),
          "sketch: image (dHash) | audio (fingerprint) | blob " +
            "(codec-free byte SimHash)"),
        OptField("maxDist", Some(OptNum(3)),
          "Hamming radius of the banded pair join"))),
      (spark, opts) => {
        val kind = opts("kind").render
        require(Set("image", "audio", "blob")(kind),
          s"media_ingest: unknown kind '$kind' (image|audio|blob)")
        val maxDist = opts("maxDist").num.toInt
        import graft.streaming.IngestStream
        val scheme: IngestStream.SigScheme = kind match {
          case "image" => IngestStream.SigScheme.ImagePhash(maxDist)
          case "audio" =>
            IngestStream.SigScheme.AudioFingerprint(maxDist)
          case _       => IngestStream.SigScheme.BlobSimHash(maxDist)
        }
        val src = VirtualFile(VPath("/media"), Seq("bin"),
          Usage.Source)
        val corpus = VirtualFile(VPath("/Ingest/corpus"),
          Seq("parquet"), Usage.Sink)
        val sigs = VirtualFile(VPath("/Ingest/sigs"),
          Seq("parquet"), Usage.Sink)
        val sumSnk = VirtualFile(VPath("/Outputs/summary"),
          Seq("parquet"), Usage.Sink)
        (Access.getDataReader(src) &&&
          (Access.getDataWriter(corpus) &&& Access.getDataWriter(sigs))) >>>
          PTask.arr {
            (rw: (Access.DataReader,
                  (Access.DataWriter, Access.DataWriter))) =>
              import graft.llm.Multimodal
              val (r, (cw, sw)) = rw
              val mediaDir = r.paths.head.stripSuffix(".bin")
              val (corpusDir, sigDir) = (cw.paths.head, sw.paths.head)
              val q = IngestStream.mediaNearDupIngest(
                Multimodal.readBlobStream(spark, mediaDir,
                  if (kind == "blob") "binary" else kind),
                corpusDir, sigDir, scheme)
              q.awaitTermination()
              def n(dir: String): Long = {
                val p = new org.apache.hadoop.fs.Path(dir)
                val fs = p.getFileSystem(
                  spark.sparkContext.hadoopConfiguration)
                if (fs.exists(p)) graft.Writes.readParquet(spark, dir).count()
                else 0L
              }
              import spark.implicits._
              Seq((n(corpusDir), n(sigDir)))
                .toDF("n_kept", "n_signed")
          } >>>
          Access.writeData(sumSnk)
      }),

    // The TABULAR audit card: the relational sibling of
    // corpus_report — per-column profile, exact-replay correlations,
    // join-key skew, and physical layout for a bound table, the four
    // diagnostics that decide broadcast/salt/compact before a 100 TB
    // job commits.
    "table_audit" -> Registered(
      "table_audit",
      "tabular audit card: per-column profile + exact correlations + " +
        "key-skew + physical layout of the bound table, four sinks",
      OptionsSchema(Seq(
        OptField("numericCols", Some(OptStr(
          "l_quantity,l_extendedprice,l_discount,l_tax")),
          "comma-separated numeric columns for the correlation matrix"),
        OptField("skewKey", Some(OptStr("l_suppkey")),
          "join/aggregation key to measure for skew"),
        OptField("topK", Some(OptNum(15)),
          "skew report: top keys to surface"))),
      (spark, opts) => {
        val nums = opts("numericCols").render.split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val key = opts("skewKey").render
        val topK = opts("topK").num.toInt
        val src = VirtualFile(VPath("/table"), Seq("parquet"),
          Usage.Source)
        def snk(p: String) = VirtualFile(VPath(p), Seq("parquet"),
          Usage.Sink)
        val (pSnk, cSnk, sSnk, lSnk) = (snk("/Outputs/profile"),
          snk("/Outputs/correlations"), snk("/Outputs/skew"),
          snk("/Outputs/layout"))
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.functions.Profile
            // layout must see the SCAN, not the cache:
            // input_file_name is empty over InMemoryRelation, and the
            // cache manager substitutes ANY canonically-equal plan —
            // so materialize the layout result BEFORE the table
            // persists (its own tiny result caches instead)
            val layout = Profile.layoutReport(r.read())
              .persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK)
            layout.count()
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), layout))
            // one underlying scan feeds the other three audits;
            // persist it so they don't each re-read the table
            val df = r.read()
              .persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK)
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), df))
            ((Profile.profile(df, df.columns.toSeq),
              Profile.corrMatrix(df, nums)),
              (graft.rep.Joins.skewReport(df, key, topK), layout))
          } >>>
          ((Access.writeData(pSnk) *** Access.writeData(cSnk)) ***
            (Access.writeData(sSnk) *** Access.writeData(lSnk)))
      }),

    // The tokenizer-drift monitor through the lifecycle: AvailableNow
    // drains whatever landed in the bound stream directory through
    // the FROZEN WordPiece model trained on the bound corpus — one
    // config-bound `run` is one monitoring sweep; rerun after new
    // files land and only they are encoded (checkpoint lives with
    // the report layer).
    "drift" -> Registered(
      "drift",
      "drift monitor (AvailableNow): kind=tokenizer encodes the " +
        "stream dir under a FROZEN WordPiece model trained on the " +
        "bound corpus; kind=embedding gauges nearest-cell fit " +
        "against cells trained on the bound vectors; kind=pq gauges " +
        "quantization error against codebooks trained on them; " +
        "batch-keyed reports + a run summary",
      OptionsSchema(Seq(
        OptField("kind", Some(OptStr("tokenizer")),
          "drift face: tokenizer (fertility/unk) | embedding " +
            "(nearest-cell fit) | pq (codebook quantization error)"),
        OptField("merges", Some(OptNum(8)),
          "tokenizer: WordPiece merge rounds for the frozen model"),
        OptField("nCells", Some(OptNum(16)),
          "embedding: k-means cells for the frozen index; " +
            "pq: codewords per subspace"),
        OptField("m", Some(OptNum(4)),
          "pq: subspace count for the frozen codebooks"),
        OptField("tau", Some(OptNum(1.0)),
          "embedding/pq: beyond-this sq-distance counts as drifted"))),
      (spark, opts) => {
        val kind = opts("kind").render
        require(Set("tokenizer", "embedding", "pq")(kind),
          s"drift: unknown kind '$kind' (tokenizer|embedding|pq)")
        val merges = opts("merges").num.toInt
        val nCells = opts("nCells").num.toInt
        val pqM = opts("m").num.toInt
        val tau = opts("tau").num
        val train = VirtualFile(
          VPath(if (kind == "embedding" || kind == "pq") "/embeddings"
                else "/documents"),
          Seq("parquet"), Usage.Source)
        val stream = VirtualFile(VPath("/stream"), Seq("parquet"),
          Usage.Source)
        val report = VirtualFile(VPath("/Drift/report"),
          Seq("parquet"), Usage.Sink)
        val sumSnk = VirtualFile(VPath("/Outputs/summary"),
          Seq("parquet"), Usage.Sink)
        ((Access.getDataReader(train) &&& Access.getDataReader(stream))
          &&& Access.getDataWriter(report)) >>>
          PTask.arr {
            (rw: ((Access.DataReader, Access.DataReader),
                  Access.DataWriter)) =>
              import graft.streaming.IngestStream
              val ((tr, sr), w) = rw
              val trainData = tr.read()
              val streamDir = sr.paths.head
              val reportDir = w.paths.head
              if (kind == "embedding") {
                import graft.llm.Similarity
                // the FROZEN model is an index layout next to the
                // report — the monitor gauges against its sidecar
                val idxDir = s"$reportDir-index"
                Similarity.ivfWriteIndex(trainData,
                  Similarity.kmeansCentroidsUncached(trainData,
                    nCells, iters = 2), idxDir)
                val q = IngestStream.ivfFitMonitor(
                  spark.readStream.schema(trainData.schema)
                    .parquet(streamDir),
                  idxDir, reportDir, tau)
                q.awaitTermination()
                graft.Writes.readParquet(spark, reportDir)
                  .agg(count(lit(1)).as("n_batches"),
                    sum(col("n_vectors")).as("n_vectors"),
                    round(max(col("mean_sqdist")), 6)
                      .as("max_mean_sqdist"),
                    round(sum(col("n_beyond")).cast("double") /
                      sum(col("n_vectors")).cast("double"), 6)
                      .as("frac_beyond"))
              } else if (kind == "pq") {
                import graft.llm.Similarity
                // same device as the embedding face: the frozen
                // model is a pqWriteIndex layout whose _books.txt
                // sidecar the monitor gauges against
                val idxDir = s"$reportDir-index"
                Similarity.pqWriteIndex(trainData,
                  Similarity.pqCodebooks(trainData, m = pqM,
                    k = nCells, iters = 2), idxDir)
                val q = IngestStream.pqFitMonitor(
                  spark.readStream.schema(trainData.schema)
                    .parquet(streamDir),
                  idxDir, reportDir, tau)
                q.awaitTermination()
                graft.Writes.readParquet(spark, reportDir)
                  .agg(count(lit(1)).as("n_batches"),
                    sum(col("n_vectors")).as("n_vectors"),
                    round(max(col("mean_qerr")), 6)
                      .as("max_mean_qerr"),
                    round(sum(col("n_beyond")).cast("double") /
                      sum(col("n_vectors")).cast("double"), 6)
                      .as("frac_beyond"))
              } else {
                val q = IngestStream.fertilityMonitor(
                  spark.readStream.schema(trainData.schema)
                    .parquet(streamDir),
                  trainData, reportDir, merges)
                q.awaitTermination()
                graft.Writes.readParquet(spark, reportDir)
                  .agg(count(lit(1)).as("n_batches"),
                    sum(col("n_docs")).as("n_docs"),
                    sum(col("n_unk_words")).as("n_unk_words"),
                    round(sum(col("n_wp_tokens")).cast("double") /
                      sum(col("n_tokens")).cast("double"), 6)
                      .as("fertility"))
              }
          } >>>
          Access.writeData(sumSnk)
      }),

    // The distilled-gate lifecycle in one config-bound run: fit the
    // linear scorer on the bound corpus (optionally a modulo slice),
    // persist the weight vector as a parquet layer, then score the
    // WHOLE corpus with the weights READ BACK from that layer — the
    // round trip proves the persisted artifact is the deployable one,
    // not the in-memory copy.
    "quality_gate" -> Registered(
      "quality_gate",
      "distill a token-gate teacher into a linear scorer: train on " +
        "the bound corpus, persist weights (/Gate/weights), score " +
        "the corpus from the read-back weights (/Outputs/scores)",
      OptionsSchema(Seq(
        OptField("teacherToken", Some(OptStr("spark")),
          "teacher gate: label 1 iff the doc contains this token"),
        OptField("dim", Some(OptNum(64)), "hash feature buckets"),
        OptField("rounds", Some(OptNum(16)),
          "full-batch GD rounds (1/t decay)"),
        OptField("lr", Some(OptNum(32)), "initial learning rate"),
        OptField("trainEvery", Some(OptNum(1)),
          "fit on doc_id % trainEvery == 0 (1 = whole corpus)"))),
      (spark, opts) => {
        val token = opts("teacherToken").render
        val dim = opts("dim").num.toInt
        val rounds = opts("rounds").num.toInt
        val lr = opts("lr").num
        val every = math.max(1L, opts("trainEvery").num.toLong)
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val wLayer = VirtualFile(VPath("/Gate/weights"), Seq("parquet"),
          Usage.Sink)
        val snk = VirtualFile(VPath("/Outputs/scores"), Seq("parquet"),
          Usage.Sink)
        (Access.getDataReader(src) &&& Access.getDataWriter(wLayer)) >>>
          PTask.arr { (rw: (Access.DataReader, Access.DataWriter)) =>
            import graft.llm.TextAnalysis
            val (r, ww) = rw
            val docs = r.read()
            val teacher = array_contains(
              TextAnalysis.tokens(col("text")), token)
            val w = TextAnalysis.trainLinearGate(
              docs.filter(col("doc_id") % every === 0), teacher,
              dim, rounds, lr)
            val wPath = ww.paths.head
            import spark.implicits._
            w.zipWithIndex
              .map { case (v, b) => (b.toLong, v) }.toSeq
              .toDF("bucket", "w")
              .coalesce(1).write.mode("overwrite").parquet(wPath)
            // the gate's model card: training provenance next to the
            // weights (underscore sidecar — parquet readers skip it),
            // so a layer found in the wild says what produced it
            val metaP = new org.apache.hadoop.fs.Path(wPath,
              "_GATE_META")
            val mfs = metaP.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            val out = mfs.create(metaP, true)
            try out.write(
              (s"""{"teacher_token":"$token","dim":$dim,""" +
               s""""rounds":$rounds,"lr":$lr,""" +
               s""""train_every":$every,""" +
               s""""n_train_docs":${docs.filter(
                 col("doc_id") % every === 0).count()}}""")
                .getBytes("UTF-8"))
            finally out.close()
            // deploy from the ARTIFACT: read the weights back and
            // score with those (any drift between memory and layer
            // would surface right here)
            val wBack = graft.Writes.readParquet(spark, wPath)
              .orderBy(col("bucket")).collect()
              .map(_.getDouble(1))
            require(wBack.length == dim + 1,
              s"weights layer $wPath holds ${wBack.length} rows, " +
                s"expected ${dim + 1}")
            TextAnalysis.applyLinearGate(docs, wBack)
              .orderBy(col("doc_id"))
          } >>>
          Access.writeData(snk)
      }),

    // The release data card through the lifecycle: one config-bound
    // run emits the per-source report a training-data drop ships
    // with (volume, language mix, dup rate, safety exposure).
    "corpus_report" -> Registered(
      "corpus_report",
      "release data card: per-source volume + language mix + " +
        "exact-dup rate + PII/blocklist exposure, one parquet sink",
      OptionsSchema(Seq(
        OptField("blocklist", Some(OptStr("badterm1,casino777")),
          "comma-separated blocklist terms for the exposure column"))),
      (spark, opts) => {
        val terms = opts("blocklist").render.split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val snk = VirtualFile(VPath("/Outputs/report"),
          Seq("parquet"), Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            graft.llm.TextAnalysis.corpusReport(r.read(), terms)
          } >>>
          Access.writeData(snk)
      }),

    // The training-order export through the lifecycle: realize the
    // mixture's epoch plan, shuffle/shard deterministically, write
    // sorted shard files + the manifest a loader reads by.
    "export" -> Registered(
      "export",
      "training-order export: epoch-plan repeats (weights x token " +
        "budget) -> deterministic pass-salted shuffle -> sorted " +
        "shard files under /Outputs/order + a (shard, file, ord " +
        "range) manifest sink",
      OptionsSchema(Seq(
        OptField("weights",
          Some(OptStr("src0=0.5,src1=0.25,src2=0.25")),
          "comma list of source=share target mixture weights"),
        OptField("targetTokens", Some(OptNum(100000)),
          "total token budget the mixture should land"),
        OptField("nShards", Some(OptNum(8)),
          "loader shard count"),
        OptField("filesPerShard", Some(OptNum(1)),
          "output files per shard (task right-sizing)"))),
      (spark, opts) => {
        val weights = opts("weights").render.split(",")
          .map(_.trim).filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k.trim -> v.trim.toDouble
          }.toMap
        require(weights.nonEmpty, "export: weights must be non-empty")
        val target = opts("targetTokens").num.toLong
        val nShards = opts("nShards").num.toInt
        val fps = opts("filesPerShard").num.toInt
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val ordSnk = VirtualFile(VPath("/Outputs/order"),
          Seq("parquet"), Usage.Sink)
        val manSnk = VirtualFile(VPath("/Outputs/manifest"),
          Seq("parquet"), Usage.Sink)
        (Access.getDataReader(src) &&&
          Access.getDataWriter(ordSnk)) >>>
          PTask.arr { (rw: (Access.DataReader, Access.DataWriter)) =>
            val (r, w) = rw
            import graft.llm.Mixing
            val outDir = w.paths.head
            Mixing.epochShuffleWrite(
              Mixing.trainingOrder(r.read(), weights, target, nShards),
              nShards, outDir, filesPerShard = fps)
            Mixing.shardManifest(spark, outDir)
          } >>>
          Access.writeData(manSnk)
      }),

    "index" -> Registered(
      "index",
      "index lifecycle: incremental build -> append/patch/compact -> " +
        "serve (kind = bm25 | ivf | cms); the layer dir is a virtual " +
        "file",
      OptionsSchema(Seq(
        OptField("kind", Some(OptStr("bm25")),
          "index family: bm25 (lexical postings), ivf (dense ANN), " +
            "pq (compressed ANN code table), cms (frequency sketch)"),
        OptField("batches", Some(OptNum(2)),
          "incremental publish batches for bm25/cms (split by id % batches)"),
        OptField("compact", Some(OptBool(true)),
          "fold published batch partitions after the build (bm25/cms)"),
        OptField("nCells", Some(OptNum(0)),
          "ivf: k-means cells (0 = auto: corpus-derived via " +
            "ivfAutoCells so probed mass stays flat as the corpus " +
            "grows); pq: codewords per subspace (0 = 16)"),
        OptField("topK", Some(OptNum(5)), "serve: results per query"))),
      (spark, opts) => {
        val kind = opts("kind").render
        require(Set("bm25", "ivf", "pq", "cms")(kind),
          s"index: unknown kind '$kind' (bm25|ivf|pq|cms)")
        val batches = opts("batches").num.toInt
        val doCompact = opts("compact").bool
        val nCells = opts("nCells").num.toInt
        val topK = opts("topK").num.toInt
        val dense = kind == "ivf" || kind == "pq"
        val src = VirtualFile(
          VPath(if (dense) "/embeddings" else "/documents"),
          Seq("parquet"), Usage.Source)
        val layer = VirtualFile(VPath("/Index/layer"), Seq("parquet"),
          Usage.Sink)
        val snk = VirtualFile(VPath("/Outputs/serve"), Seq("parquet"),
          Usage.Sink)
        (Access.getDataReader(src) &&& Access.getDataWriter(layer)) >>>
          PTask.arr { (rw: (Access.DataReader, Access.DataWriter)) =>
            import graft.llm.{HeavyHitters, Similarity, TextAnalysis}
            import graft.streaming.IngestStream
            val (r, w) = rw
            val layerDir = w.paths.head
            // `run` is a fresh REBUILD: the pipeline owns its layer
            // output, so a rerun (or a corpus change) starts clean
            // instead of re-publishing batch ids under an existing
            // compact partition. Cross-run incremental maintenance
            // (bm25PostingsBatch/cmsBatch under caller-kept batch ids)
            // is not the batch lifecycle's contract.
            val lp = new org.apache.hadoop.fs.Path(layerDir)
            val lfs = lp.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            deleteLayerDirGuarded(lfs, lp)
            kind match {
              case "bm25" =>
                val docs = r.read()
                (0 until batches).foreach { b =>
                  TextAnalysis.bm25PostingsBatch(
                    docs.filter(col("doc_id") % batches === b),
                    layerDir, b.toLong)
                }
                if (doCompact) {
                  IngestStream.ingestLayerCompact(spark,
                    s"$layerDir/postings", batches - 1L)
                  IngestStream.ingestLayerCompact(spark,
                    s"$layerDir/stats", batches - 1L)
                }
                TextAnalysis.bm25TopKFromPostings(spark, layerDir,
                  docs.filter(col("doc_id") % 100 === 0)
                    .select(col("doc_id").as("query_id"), col("text")),
                  k = topK)
              case "ivf" =>
                val emb = r.read()
                // deployment default: corpus-derived cell geometry
                // (probed candidate mass stays ~targetCell * nProbe
                // however large the corpus) unless the config pins an
                // explicit count
                val cells =
                  if (nCells > 0) nCells
                  else Similarity.ivfAutoCells(emb.count())
                val cents = Similarity.kmeansCentroidsUncached(emb,
                  cells, iters = 2)
                // the full lifecycle in one config-bound run: build on
                // the even half, APPEND the odd half as a delta batch,
                // fold the delta into the cells, refresh the centroids
                // and patch the layout in place
                Similarity.ivfWriteIndex(
                  emb.filter(col("vec_id") % 2 === 0), cents, layerDir)
                Similarity.ivfAppendBatch(spark, layerDir,
                  emb.filter(col("vec_id") % 2 =!= 0), batchId = 0L)
                Similarity.ivfCompactDelta(spark, layerDir)
                val newC = Similarity.kmeansUpdate(
                  emb.filter(col("vec_id") % 2 === 1), cents)
                Similarity.ivfPatchIndex(spark, layerDir, newC)
                // serve through the sidecar-derived set (the patch
                // advanced it) — the safe path the layout publishes
                Similarity.ivfTopKIndexedAuto(spark, layerDir,
                  emb.filter(col("vec_id") % 100 === 0)
                    .select(col("vec_id").as("query_id"),
                      col("embedding").as("query_vec")),
                  k = topK)
              case "pq" =>
                val emb = r.read()
                // pq's k is codewords PER SUBSPACE (a model-size
                // knob, not serve geometry) — auto doesn't apply;
                // 0 falls back to the former fixed default
                val pqK = if (nCells > 0) nCells else 16
                val books = Similarity.pqCodebooks(emb, m = 4,
                  k = pqK, iters = 2)
                // full lifecycle: build on the even half, append the
                // odd half as a delta batch, fold, then patch
                Similarity.pqWriteIndex(
                  emb.filter(col("vec_id") % 2 === 0), books, layerDir)
                Similarity.pqAppendBatch(spark, layerDir,
                  emb.filter(col("vec_id") % 2 =!= 0), batchId = 0L)
                Similarity.pqCompactDelta(spark, layerDir)
                // retrain on the odd half, patch only changed buckets
                val newBooks = Similarity.pqCodebooks(
                  emb.filter(col("vec_id") % 2 === 1), m = 4,
                  k = pqK, iters = 2)
                // old books from the table's own sidecar; serve from
                // the sidecar the patch advanced
                Similarity.pqPatchIndexAuto(spark, layerDir, emb,
                  newBooks)
                Similarity.pqTopKIndexedAuto(spark, layerDir,
                  emb.filter(col("vec_id") % 100 === 0)
                    .select(col("vec_id").as("query_id"),
                      col("embedding").as("query_vec")),
                  k = topK)
              case _ =>
                val docs = r.read()
                (0 until batches).foreach { b =>
                  IngestStream.cmsBatch(
                    docs.filter(col("doc_id") % batches === b),
                    layerDir, batchId = b.toLong)
                }
                if (doCompact)
                  IngestStream.cmsCompact(spark, layerDir,
                    watermark = batches - 1L)
                HeavyHitters.cmsLookupLayer(spark, layerDir,
                  docs.filter(col("doc_id") % 50 === 0)
                    .select(explode(TextAnalysis.tokens(col("text")))
                      .as("token")).distinct())
            }
          } >>>
          Access.writeData(snk)
      }),

    // The takedown lifecycle: a right-to-be-forgotten id set removed
    // IN PLACE from a standing layer, with the compliance audit row
    // as the pipeline's output — the maintenance face the index
    // pipeline builds, driven through the same config-bound surface.
    // `build=true` (the self-contained demo/test shape) constructs
    // the layer from the bound source first; `build=false` is the
    // deployed shape: the layer already stands, the run only removes
    // and audits (a rerun with the same ids audits (0, 0) — the
    // idempotence proof as a lifecycle invocation).
    "takedown" -> Registered(
      "takedown",
      "remove a takedown id set from a standing layer in place " +
        "(kind = layer | bm25 | ivf | pq | cms) and emit the " +
        "compliance audit row; layer and ids are virtual files",
      OptionsSchema(Seq(
        OptField("kind", Some(OptStr("layer")),
          "artifact family: layer (batch-keyed corpus/signatures), " +
            "bm25 (postings+stats pair), ivf / pq (dense index " +
            "layouts), cms (frequency sketch, subtract-and-fold)"),
        OptField("build", Some(OptBool(true)),
          "build the layer from the source first (self-contained " +
            "run); false = mutate the already-standing layer only"),
        OptField("batches", Some(OptNum(2)),
          "build: publish batches (split by id % batches)"),
        OptField("nCells", Some(OptNum(16)),
          "ivf/pq build: k-means cells / codewords per subspace"))),
      (spark, opts) => {
        val kind = opts("kind").render
        require(Set("layer", "bm25", "ivf", "pq", "cms")(kind),
          s"takedown: unknown kind '$kind' (layer|bm25|ivf|pq|cms)")
        val doBuild = opts("build").bool
        val batches = opts("batches").num.toInt
        val nCells = opts("nCells").num.toInt
        val dense = kind == "ivf" || kind == "pq"
        val idCol = if (dense) "vec_id" else "doc_id"
        val src = VirtualFile(
          VPath(if (dense) "/embeddings" else "/documents"),
          Seq("parquet"), Usage.Source)
        val ids = VirtualFile(VPath("/takedown_ids"), Seq("parquet"),
          Usage.Source)
        val layer = VirtualFile(VPath("/Index/layer"), Seq("parquet"),
          Usage.Sink)
        val snk = VirtualFile(VPath("/Outputs/audit"), Seq("parquet"),
          Usage.Sink)
        ((Access.getDataReader(src) &&& Access.getDataReader(ids))
          &&& Access.getDataWriter(layer)) >>>
          PTask.arr {
            (rw: ((Access.DataReader, Access.DataReader),
                  Access.DataWriter)) =>
              import graft.llm.{Similarity, Takedown, TextAnalysis}
              import graft.streaming.IngestStream
              val ((sr, ir), w) = rw
              val layerDir = w.paths.head
              val idSet = ir.read()
              if (doBuild) {
                val lp = new org.apache.hadoop.fs.Path(layerDir)
                val lfs = lp.getFileSystem(
                  spark.sparkContext.hadoopConfiguration)
                deleteLayerDirGuarded(lfs, lp)
              }
              // per kind: (rows removed, partitions rewritten,
              // standing mass left — rows for the row-keyed layers,
              // positive cells for the sketch)
              val (rm, parts, left): (Long, Long, Long) = kind match {
                case "layer" =>
                  if (doBuild) {
                    val docs = sr.read()
                    (0 until batches).foreach { b =>
                      docs.filter(col(idCol) % batches === b)
                        .write.parquet(s"$layerDir/ingest_batch=$b")
                    }
                    IngestStream.ingestLayerCompact(spark, layerDir,
                      batches - 1L)
                  }
                  val (r, p) =
                    Takedown.layerTakedown(spark, layerDir, idSet, idCol)
                  (r, p, graft.Writes.readParquet(spark, layerDir).count())
                case "bm25" =>
                  if (doBuild) {
                    val docs = sr.read()
                    (0 until batches).foreach { b =>
                      TextAnalysis.bm25PostingsBatch(
                        docs.filter(col(idCol) % batches === b),
                        layerDir, b.toLong)
                    }
                  }
                  val (r, p) =
                    Takedown.bm25Takedown(spark, layerDir, idSet)
                  (r, p, graft.Writes.readParquet(spark, s"$layerDir/stats")
                    .agg(sum(col("n_docs"))).head.getLong(0))
                case "ivf" =>
                  if (doBuild) {
                    val emb = sr.read()
                    Similarity.ivfWriteIndex(emb,
                      Similarity.kmeansCentroidsUncached(emb, nCells,
                        iters = 2), layerDir)
                  }
                  val (r, p) =
                    Takedown.ivfTakedown(spark, layerDir, idSet)
                  (r, p, graft.Writes.readParquet(spark, layerDir).count())
                case "pq" =>
                  if (doBuild) {
                    val emb = sr.read()
                    Similarity.pqWriteIndex(emb,
                      Similarity.pqCodebooks(emb, m = 4, k = nCells,
                        iters = 2), layerDir)
                  }
                  val (r, p) =
                    Takedown.pqTakedown(spark, layerDir, idSet)
                  (r, p, graft.Writes.readParquet(spark, layerDir).count())
                case _ =>
                  // the sketch is subtractive: it needs the removed
                  // docs' text, so the corpus layer rides NEXT TO the
                  // sketch under the same bound dir (run the cms
                  // takedown BEFORE the corpus-layer one — the scaladoc
                  // ordering contract)
                  val corpusDir = s"$layerDir/corpus"
                  val sketchDir = s"$layerDir/sketch"
                  if (doBuild) {
                    val docs = sr.read()
                    (0 until batches).foreach { b =>
                      val slice = docs.filter(col(idCol) % batches === b)
                      slice.write.parquet(s"$corpusDir/ingest_batch=$b")
                      IngestStream.cmsBatch(slice, sketchDir,
                        batchId = b.toLong)
                    }
                  }
                  val r = Takedown.cmsTakedown(spark, sketchDir,
                    corpusDir, idSet)
                  // then the corpus layer, so a rerun finds no removed
                  // text left to subtract again and audits (0, 0)
                  Takedown.layerTakedown(spark, corpusDir, idSet, idCol)
                  (r, if (r == 0L) 0L else 1L,
                    IngestStream.cmsLayerRead(spark, sketchDir)
                      .filter(col("cnt") > 0).count())
              }
              import spark.implicits._
              Seq((kind, rm, parts, left))
                .toDF("kind", "rows_removed", "partitions_rewritten",
                  "mass_remaining")
          } >>>
          Access.writeData(snk)
      }),

    // Retention through the lifecycle: the cutoff sibling of
    // takedown — one config-bound run ages out every batch partition
    // below keepFrom (whole-partition deletes, nothing rewritten) and
    // emits the audit row. build=true constructs a batches-deep layer
    // from the bound source first; build=false is the deployed shape
    // (a rerun at the same cutoff audits (0, 0)).
    "retention" -> Registered(
      "retention",
      "age out batch partitions below a keepFrom cutoff from a " +
        "standing layer (whole-partition deletes) and emit the " +
        "audit row; the layer dir is a virtual file",
      OptionsSchema(Seq(
        OptField("keepFrom", Some(OptNum(2)),
          "batch ids below this are deleted whole"),
        OptField("build", Some(OptBool(true)),
          "build the layer from the source first (self-contained " +
            "run); false = mutate the already-standing layer only"),
        OptField("batches", Some(OptNum(4)),
          "build: publish batches (split by doc_id % batches)"))),
      (spark, opts) => {
        val keepFrom = opts("keepFrom").num.toLong
        val doBuild = opts("build").bool
        val batches = opts("batches").num.toInt
        val src = VirtualFile(VPath("/documents"), Seq("parquet"),
          Usage.Source)
        val layer = VirtualFile(VPath("/Index/layer"), Seq("parquet"),
          Usage.Sink)
        val snk = VirtualFile(VPath("/Outputs/audit"), Seq("parquet"),
          Usage.Sink)
        (Access.getDataReader(src) &&& Access.getDataWriter(layer)) >>>
          PTask.arr { (rw: (Access.DataReader, Access.DataWriter)) =>
            val (r, w) = rw
            val layerDir = w.paths.head
            if (doBuild) {
              val lp = new org.apache.hadoop.fs.Path(layerDir)
              val lfs = lp.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              deleteLayerDirGuarded(lfs, lp)
              val docs = r.read()
              (0 until batches).foreach { b =>
                docs.filter(col("doc_id") % batches === b)
                  .write.parquet(s"$layerDir/ingest_batch=$b")
              }
            }
            val (parts, rows) = graft.streaming.IngestStream
              .layerRetention(spark, layerDir, keepFrom)
            import spark.implicits._
            Seq((keepFrom, parts, rows,
                graft.Writes.readParquet(spark, layerDir).count()))
              .toDF("keep_from", "partitions_dropped", "rows_dropped",
                "rows_remaining")
          } >>>
          Access.writeData(snk)
      }),

    // The multimodal curation face through the lifecycle: raw media
    // files ingested via binaryFile, decoded by the real JDK codecs,
    // and gated by the audio/image quality verdicts — features to one
    // sink, flagged discards to another (the safety pipeline's
    // two-sink audit shape at blob granularity).
    "media_audit" -> Registered(
      "media_audit",
      "media curation: binaryFile ingest -> JDK decode -> audio/image/" +
        "video quality gates; features + flagged discards as two sinks",
      OptionsSchema(Seq(
        OptField("kind", Some(OptStr("image")),
          "media kind of the input directory: image | audio | video " +
            "(video gates use videoQuality's default thresholds)"),
        OptField("minPixels", Some(OptNum(4096)),
          "image: minimum pixel count before the tiny verdict"),
        OptField("maxAspect", Some(OptNum(4.0)),
          "image: aspect ratio above which a crop is banner-shaped"),
        OptField("flatEps", Some(OptNum(0.02)),
          "image: quadrant-luma spread below which an image is flat"),
        OptField("clipThreshold", Some(OptNum(0.99)),
          "audio: peak level at/above which a clip is clipped"),
        OptField("silenceRms", Some(OptNum(0.01)),
          "audio: rms level below which a clip is silent"))),
      (spark, opts) => {
        val kind = opts("kind").render
        require(kind == "image" || kind == "audio" || kind == "video",
          s"media_audit: unknown kind '$kind' (image|audio|video)")
        val src = VirtualFile(VPath("/media"), Seq("bin"),
          Usage.Source)
        val featSnk = VirtualFile(VPath("/Outputs/features"),
          Seq("parquet"), Usage.Sink)
        val flagSnk = VirtualFile(VPath("/Outputs/flagged"),
          Seq("parquet"), Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.llm.Multimodal
            // binaryFile over the bound media DIRECTORY — the real
            // ingestion path, not a parquet read. The catalog
            // completes extension-less bindings with the entry's
            // default ext (a FILE-shaped contract); a directory
            // source undoes that completion here, and a binding
            // whose real name carries a dot is untouched.
            val blobs = Multimodal.readBlobs(spark,
              r.paths.head.stripSuffix(".bin"), kind)
            val feats = Multimodal.extractFeatures(blobs,
                Multimodal.MediaDecoder.Jdk)
              .persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK)
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), feats))
            val gated = kind match {
              case "audio" =>
                Multimodal.audioQuality(feats,
                  opts("clipThreshold").num, opts("silenceRms").num)
              case "video" => Multimodal.videoQuality(feats)
              case _ =>
                Multimodal.imageQuality(feats,
                  opts("minPixels").num.toLong,
                  opts("maxAspect").num, opts("flatEps").num)
            }
            // undecodable media is the FIRST discard of any curation
            // pass — it flags alongside the kind-specific verdicts
            val flagged = gated.filter(col("is_undecoded") || (kind match {
              case "audio" => col("is_clipped") || col("is_silent")
              case "video" =>
                col("is_short") || col("is_static") || col("is_flicker")
              case _ =>
                col("is_tiny") || col("is_extreme_aspect") ||
                  col("is_flat")
            }))
            (feats, flagged)
          } >>>
          (Access.writeData(featSnk) *** Access.writeData(flagSnk))
      }),

    // The perceptual dedup face through the lifecycle: raw media
    // files ingested via binaryFile, hashed by the REAL codecs
    // (image dHash / acoustic fingerprint), near-dup pairs banded,
    // clustered, and min-id representatives kept — kept blobs to one
    // sink, the pair provenance (why a blob is gone) to the other,
    // the dedup_audit shape at blob granularity.
    "media_dedup" -> Registered(
      "media_dedup",
      "perceptual media dedup: binaryFile ingest -> real-codec hash " +
        "(image dHash | acoustic fingerprint | video frame slots) -> " +
        "banded pairs -> components -> min-id reps; kept + pairs sinks",
      OptionsSchema(Seq(
        OptField("kind", Some(OptStr("image")),
          "media kind of the input directory: image | audio | video"),
        OptField("maxDist", Some(OptNum(3)),
          "Hamming radius of the banded pair join (<= 3 is " +
            "pigeonhole-complete)"))),
      (spark, opts) => {
        val kind = opts("kind").render
        require(kind == "image" || kind == "audio" || kind == "video",
          s"media_dedup: unknown kind '$kind' (image|audio|video)")
        val maxDist = opts("maxDist").num.toInt
        val src = VirtualFile(VPath("/media"), Seq("bin"),
          Usage.Source)
        val keptSnk = VirtualFile(VPath("/Outputs/kept"),
          Seq("parquet"), Usage.Sink)
        val pairSnk = VirtualFile(VPath("/Outputs/pairs"),
          Seq("parquet"), Usage.Sink)
        Access.getDataReader(src) >>>
          PTask.arr { (r: Access.DataReader) =>
            import graft.llm.{Dedup, Multimodal}
            // persist the blob scan: consumed by the hash pass and
            // again by the representative anti-join — one decode,
            // not two (see media_audit for the .bin completion note)
            val blobs = Multimodal.readBlobs(spark,
                r.paths.head.stripSuffix(".bin"), kind)
              .persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK)
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), blobs))
            val pairs = (kind match {
              case "image" => Multimodal.phashNearDupPairs(blobs, maxDist)
              case "audio" => Multimodal.audioNearDupPairs(blobs, maxDist)
              // video pair provenance carries frames_matched (3-of-4
              // slot agreement) instead of a Hamming column
              case _ => Multimodal.videoNearDupPairs(blobs, maxDist)
            }).persist(org.apache.spark.storage.StorageLevel
              .MEMORY_AND_DISK)
            graft.cache.Pins.track(spark,
              graft.access.Split.Branches((), pairs))
            val kept = Dedup.keepRepresentatives(blobs,
              Dedup.connectedComponents(
                pairs.select(col("id_a"), col("id_b"))),
              idCol = "media_id")
            (kept, pairs)
          } >>>
          (Access.writeData(keptSnk) *** Access.writeData(pairSnk))
      }),

    // Port of the reference's example-radon (ExampleRadon.hs:76-158):
    // load observations (CSV-with-header or JSON — the example's
    // BidirSerials pair), mirror them to a debug sink unchanged, run
    // foldSummary (count ⊗ nub-states ⊗ distinct-county-count,
    // ExampleRadon.hs:76-79) PLUS the per-basement-group moments in
    // the SAME one-pass Applicative fold, and forward-sample the
    // fitted two-group model. The reference fits ModelParams by
    // Metropolis-Hastings over monad-bayes (out of a data engine's
    // scope); the moment-matched analog is deterministic and targets
    // the same quantities (rate = Bernoulli MLE, radon/noise = group
    // mean/stddev), and the forward draws replace sampleIOfixed with
    // hash-seeded uniforms over spark.range — distributed, replayable,
    // no driver loop.
    "radon_summary" -> Registered(
      "radon_summary",
      "radon observations: debug copy + one-pass fold summary + " +
        "moment-matched model params + forward samples",
      OptionsSchema(Seq(
        OptField("nsamples", Some(OptNum(5000)),
          "Number of samples to draw"),
        OptField("vizSize", Some(OptStr("400x400")),
          "Width & height of visualisations"))),
      (spark, opts) => {
        import graft.fold.FoldCol
        val nsamples = opts("nsamples").num.toLong
        val vizSize = opts("vizSize").render
        val src = VirtualFile(VPath("/data/radon"), Seq("csv", "json"),
          Usage.Source)
        val filtered = VirtualFile(VPath("/debug/radon-filtered"),
          Seq("csv"), Usage.Sink)
        val vizSummary = VirtualFile(VPath("/viz/summary"), Seq("json"),
          Usage.Sink)
        val vizForward = VirtualFile(VPath("/viz/forward"), Seq("json"),
          Usage.Sink)
        val withB = col("basement") === "Y"
        val lr = col("log_radon")
        // ONE df.agg pass: the fold-applicative product of the
        // example's Summary AND the five ModelParams moments
        val fold = FoldCol.count
          .zip(FoldCol.collectSet(col("state")))
          .zip(FoldCol.countDistinctOf(col("county")))
          .zip(FoldCol.countIf(withB))
          .zip(FoldCol.avgD(FoldCol.prefiltered(withB, lr)))
          .zip(FoldCol.stddevPopD(FoldCol.prefiltered(withB, lr)))
          .zip(FoldCol.avgD(FoldCol.prefiltered(!withB, lr)))
          .zip(FoldCol.stddevPopD(FoldCol.prefiltered(!withB, lr)))
        val analyse: PTask[DataFrame, (DataFrame, DataFrame)] =
          PTask.arr { (df: DataFrame) =>
            val (((((((n, states), nCty), nB), rB), sB), rN), sN) =
              fold.run(df)
            import spark.implicits._
            val rate = nB.toDouble / n
            val summary = Seq((n, states.map(_.toString).sorted, nCty,
                rate, rB, rN, sB, sN, vizSize))
              .toDF("num_rows", "unique_states", "num_unique_counties",
                "rate_with_b", "radon_with_b", "radon_without_b",
                "noise_with_b", "noise_without_b", "viz_size")
            // posteriorForward (ExampleRadon.hs:119-127): Bernoulli on
            // the basement rate picks the group, a Box–Muller normal
            // draws the level; uniforms are md5-hash-seeded per (tag,
            // sample id) so the draw is a pure function of nsamples
            def u(tag: String) =
              (conv(substring(md5(concat_ws("_", lit(tag),
                col("id"))), 1, 8), 16, 10).cast("double") + 1.0) /
                4294967297.0
            val z = sqrt(lit(-2.0) * log(u("u1"))) *
              cos(lit(2.0 * math.Pi) * u("u2"))
            val forward = spark.range(nsamples)
              .select(col("id"), (u("b") < lit(rate)).as("has_basement"),
                z.as("_z"))
              .select(col("id"), col("has_basement"),
                round(when(col("has_basement"),
                    lit(rB) + lit(sB) * col("_z"))
                  .otherwise(lit(rN) + lit(sN) * col("_z")), 6)
                  .as("log_radon"))
            (summary, forward)
          }
        Access.loadData(src) >>>
          (Access.writeData(filtered) &&&
            (analyse >>>
              ((PTask.arr((p: (DataFrame, DataFrame)) => p._1) >>>
                Access.writeData(vizSummary)) &&&
               (PTask.arr((p: (DataFrame, DataFrame)) => p._2) >>>
                Access.writeData(vizForward))))) >>>
          PTask.arr((_: (Unit, (Unit, Unit))) => ())
      }),

    // Port of the reference's example1 (Example1.hs:47-75): repeat an
    // analysis over an index range of users, reading User-{userId}.json
    // and writing Analysis-{userId}.json via path templates.
    "user_analysis" -> Registered(
      "user_analysis",
      "per-user letter histogram over User-{userId}.json inputs",
      OptionsSchema(Seq(
        OptField("users", Some(OptStr("0..2")), "index range of user ids"))),
      (spark, opts) => {
        val src = VirtualFile(VPath("/Inputs/User"), Seq("json"), Usage.Source)
        val snk = VirtualFile(VPath("/Outputs/Analysis"), Seq("json"), Usage.Sink)
        val analyseOne: PTask[Unit, Unit] =
          Access.loadData(src) >>>
            PTask.arr((df: DataFrame) =>
              df.select(explode(split(lower(
                  concat_ws(" ", col("userName"), col("userSurname"))), ""))
                  .as("letter"))
                .filter(col("letter") =!= " " && col("letter") =!= "")
                .groupBy(col("letter"))
                .agg(count(lit(1)).as("n"))) >>>
            Access.writeData(snk)
        val indices = Repetition.parseIndexRange(opts("users").render)
        PTask.const(indices.map(i => i -> ())) >>>
          Repetition.parMapTask_("userId", analyseOne)
      })
  )

  /** User-library pipeline registration (the reference's "your main is
    * runPipelineTask on your own task" surface). */
  private val extra =
    scala.collection.concurrent.TrieMap.empty[String, Registered]
  def register(r: Registered): Unit = extra.put(r.name, r)
  def pipelines: Map[String, Registered] = registry ++ extra

  def main(args: Array[String]): Unit = run(args, defaultSession())

  def defaultSession(): SparkSession =
    graft.Graft.builder(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Entry point, separated from `main` for tests (pass a session).
    * Logging flags (--log-level, --log-format, -q, -v) apply to every
    * command and are stripped before dispatch. */
  def run(args: Array[String], spark: => SparkSession): Unit =
    run0(Logging.applyFlags(args.toSeq), spark)

  private def run0(args: Seq[String], spark: => SparkSession): Unit = args match {
    case Seq("list") =>
      pipelines.toSeq.sortBy(_._1).foreach { case (n, r) =>
        println(f"$n%-16s ${r.doc}")
      }
    // the operator-inventory surface: every SparkEntry query runnable
    // from the CLI (`query list`, `query run <name> [--sf-dir D]
    // [--out parquet-dir] [--limit N]`) — the driver's Verify/Bench
    // mains use the same map; this is the human entry point.
    case Seq("query", "list") =>
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    case Seq("query", "run", qname, rest @ _*)
        if graft.SparkEntry.queries.contains(qname) =>
      def flag(k: String): Option[String] =
        rest.sliding(2).collectFirst {
          case Seq(`k`, v) if !v.startsWith("--") => v }
      val sfDir = flag("--sf-dir")
        .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
        .getOrElse("/root/testdata/sf0.001")
      val df = graft.SparkEntry.queries(qname)(spark, sfDir)
      flag("--out") match {
        case Some(out) =>
          df.write.mode("overwrite").parquet(out)
          println(s"[$qname] written to $out")
        case None =>
          df.show(flag("--limit").flatMap(_.toIntOption).getOrElse(20),
            truncate = false)
      }
    case Seq("query", "run", qname, _*) =>
      sys.error(s"unknown query: $qname (see `query list`)")
    case name +: cmd +: rest if pipelines.contains(name) =>
      val reg = pipelines(name)
      val (specOpt, cliArgs0) = rest match {
        case file +: more if !file.startsWith("-") =>
          (Some(JobSpec.fromFile(file)), more)
        case more => (None, more)
      }
      // show-tree display flags (-m -S -F -t -a -E -c, reference
      // CLI.hs:393-427) are stripped BEFORE spec/option parsing so
      // they never collide with option flags
      val (showOpts, cliArgs) =
        if (cmd == "show-tree") graft.model.ShowOpts.parse(cliArgs0)
        else (graft.model.ShowOpts(), cliArgs0)
      val spec = specOpt.getOrElse(JobSpec.empty).withCliArgs(cliArgs)
      // options-as-virtual-file (reference optionsVirtualFile,
      // Options.hs:43-64): binding /Options/<pipeline> to external
      // yaml/json file(s) layers them UNDER the spec's inline data:
      // priority = schema default < option file(s) < data: < CLI
      val optionData: graft.serial.JValue = {
        import graft.serial.{JValue, Yaml}
        // resolve the binding through the normal mapping machinery
        // (variable splicing, Inherit, layer lists), then read through
        // the Hadoop FS API so any registered scheme works — an
        // explicitly bound option file must behave like every other
        // virtual-file location
        def readText(loc: String): String = {
          val p = new org.apache.hadoop.fs.Path(loc)
          graft.Writes.readUtf8(
            p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
        }
        val optVPath = VPath(s"/Options/$name")
        val fileLayers = spec.mappings.bindings.get(optVPath) match {
          case Some(_) =>
            spec.mappings.layersFor(optVPath, "yaml") match {
              case graft.loc.Resolved.Bound(ls) =>
                ls.map(l => Yaml.parse(readText(l.raw)))
              case _ => Seq.empty
            }
          case None => Seq.empty
        }
        (fileLayers :+ spec.data).reduceLeft(JValue.deepMerge)
      }
      reg.options.unknownKeys(optionData).foreach(k =>
        System.err.println(s"[$name] WARNING: unknown option key '$k' " +
          "in spec (no declared field matches; it will be ignored)"))
      reg.options.typeChangeWarnings(Some(optionData), cliArgs)
        .foreach(w => System.err.println(s"[$name] WARNING: $w"))
      cmd match {
        case "run" =>
          val opts = reg.options.resolveStrict(Some(optionData), cliArgs)
          val task = reg.build(spark, opts)
          // content-hash store root — the reference configures the
          // funflow store on every run (Run.hs:158-181, FUNFLOW_STORE):
          // --cache-root flag > `cache:` spec key > GRAFT_CACHE env
          val cacheRoot = spec.cache.orElse(sys.env.get("GRAFT_CACHE"))
          Pipeline.run(spark, task.asInstanceOf[PTask[Unit, Any]],
            spec.mappings, (), cacheRoot = cacheRoot)
          println(s"[$name] done")
        case "show-tree" =>
          val opts = reg.options.resolveStrict(Some(optionData), cliArgs)
          val task = reg.build(spark, opts)
          println(Pipeline.describe(task,
            Some(spec.mappings).filter(_ => specOpt.nonEmpty || cliArgs.nonEmpty),
            showOpts))
        case "write-config-template" =>
          val opts = reg.options.resolve(None, Nil)
            .map { case (k, (v, _)) => k -> v }
          val task = reg.build(spark, opts.withDefault(_ =>
            throw new NoSuchElementException))
          val template = JobSpec(
            variables = Map.empty,
            data = reg.options.templateJson,
            mappings = Mappings(task.requirements.paths.map(p =>
              p -> graft.loc.MappingRhs.Inherit()).toMap))
          println(template.render)
        // persist the spec-with-CLI-overrides back to a file —
        // reference `save` / `--save` (CLI.hs:215-235, 352-363)
        case "save" =>
          val target = cliArgs.lastOption.filter(!_.startsWith("-"))
            .getOrElse(sys.error("save: target file required"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(target), spec.render)
          println(s"[$name] spec saved to $target")
        case other =>
          sys.error(
            s"unknown command: $other (run|show-tree|write-config-template|save)")
      }
    case _ =>
      println("usage: graft.Main <pipeline> <run|show-tree|write-config-template> " +
        "[spec.yaml] [--loc p=l] [--var k=v] [-o k=v] [--cache-root dir] " +
        "| graft.Main list " +
        "| graft.Main query list " +
        "| graft.Main query run <name> [--sf-dir D] [--out dir] [--limit N]")
      println("pipelines:")
      pipelines.toSeq.sortBy(_._1).foreach { case (n, r) =>
        println(f"  $n%-16s ${r.doc}")
        println(r.options.documentation)
      }
  }
}
