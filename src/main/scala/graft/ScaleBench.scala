package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe (not part of the driver contract): times the core
  * LLM operators at 1x/4x/16x of the sf0.1 documents/embeddings
  * tables, materialized as real parquet scans (id-offset unions —
  * every copy is a planted duplicate, so the dedup ops see a
  * duplicate-heavy corpus, the hard case). One JSON line per
  * (factor, op) to stderr-free stdout; results are recorded in
  * BASELINE.md's scaling section.
  *
  * Usage: graft.ScaleBench [sfDir] [factors csv, default 1,4,16]
  * Env: SPARK_GRAFT_SCALE_ONLY=csv of op-name prefixes restricts the
  * probe set (local iteration on one family).
  */
object ScaleBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def materialize(spark: SparkSession, src: DataFrame,
                          idCol: String, factor: Int, dest: String)
      : DataFrame = {
    // id stride derived from the actual max id so copies can never
    // collide, whatever the source scale
    val stride = src.agg(max(col(idCol))).head().getLong(0) + 1L
    val scaled = (0 until factor).map { i =>
      src.withColumn(idCol, col(idCol) + lit(i.toLong * stride))
    }.reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(dest)
    spark.read.parquet(dest)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,4,16")
      .split(',').map(_.trim.toInt).toSeq
    val spark = Graft.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale")
    spark.sparkContext.setLogLevel("WARN")
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val scratch = graft.Scratch.root + "/scale"

    val onlyOps = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

    // SPARK_GRAFT_SCALE_REPS > 1: each probe body runs k times and
    // the line carries `"sec"` = MIN plus `"secs"` = every rep — the
    // same single-shot ambiguity the bench's per-pass columns fixed
    // (one inflated reading is indistinguishable from a regression
    // without the other reps in the artifact). Default 1 (the
    // historical line format, no `secs` field): some probe bodies
    // mutate their scratch layer (takedown/append families), so
    // repetition is an explicit opt-in for the idempotent families,
    // not a blanket default.
    val scaleReps = sys.env.get("SPARK_GRAFT_SCALE_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)

    def report(op: String, f: Int, rowsIn: Long, rowsOut: Long,
               sec: Double, secs: Seq[Double] = Seq.empty): Unit = {
      def r2(v: Double) = math.round(v * 100) / 100.0
      val repsTail = if (secs.size <= 1) ""
        else s""","secs":[${secs.map(r2).mkString(",")}]"""
      println(s"""{"op":"$op","factor":$f,"rows_in":$rowsIn,""" +
        s""""rows_out":$rowsOut,"sec":${r2(sec)}$repsTail}""")
      // each probe starts debt-free: the unmanaged shorthands'
      // tracked pins are released OUTSIDE every timed window (same
      // discipline as Bench — accumulated pins would distort the
      // later probes and the factor-to-factor ratios)
      graft.cache.Pins.release(spark)
    }

    /** SPARK_GRAFT_SCALE_ONLY prefixes gate each probe. */
    def enabled(op: String): Boolean =
      onlyOps.forall(_.exists(op.startsWith))

    /** Time `body` (k reps, min reported), unless filtered out. */
    def runProbe(op: String, f: Int, rowsIn: Long)(body: => Long): Unit =
      if (enabled(op)) {
        val runs = (1 to scaleReps).map { r =>
          val res = timed(body)
          // inter-rep pin release (NOT timed): rep r+1 must not be
          // measured against rep r's storage debt
          if (r < scaleReps) graft.cache.Pins.release(spark)
          res
        }
        val secs = runs.map(_._2)
        report(op, f, rowsIn, runs.last._1, secs.min, secs)
      }

    factors.foreach { f =>
      val docs = materialize(spark, docs0, "doc_id", f, s"$scratch/docs_$f")
      val emb = materialize(spark, emb0, "vec_id", f, s"$scratch/emb_$f")
      val nDocs = docs.count(); val nEmb = emb.count()
      // warm the scans so timings measure the operators
      docs.count(); emb.count()

      runProbe("exact_dedup_groups", f, nDocs)(
        graft.llm.Dedup.exactGroups(docs).count())

      runProbe("minhash_signatures", f, nDocs)(
        // agg over a signature element forces the sketch computation
        // (a bare count() would prune the projection to a scan)
        graft.llm.Dedup.minHashSignatures(docs)
          .agg(sum(element_at(col("sig"), 1))).collect().length.toLong)

      runProbe("minhash_lsh_pairs", f, nDocs)(
        graft.llm.Dedup.minHashPairs(docs, threshold = 0.35).count())

      runProbe("dedup_clusters", f, nDocs)(
        graft.llm.Dedup.connectedComponents(
          graft.llm.Dedup.minHashPairs(docs, threshold = 0.35)).count())

      runProbe("token_stats", f, nDocs)(docs.select(
        graft.functions.SketchExprs.textStats(col("text")).as("st"))
        .agg(sum(col("st.n_tokens"))).collect().length.toLong)

      // FIM prep: a row-local projection — the probe aggregates the
      // rewritten text length to force the substring arithmetic
      runProbe("fim_transform", f, nDocs)(
        graft.llm.Mixing.fimTransform(docs, rate = 0.5)
          .agg(sum(length(col("fim_text")))).collect().length.toLong)

      // classifier training: rounds passes over the dim-wide feature
      // relation — expect linear in the corpus with flat model state
      runProbe("quality_clf_train", f, nDocs)(
        graft.llm.TextAnalysis.qualityClassifier(docs,
          array_contains(graft.llm.TextAnalysis.tokens(col("text")),
            "spark"), rounds = 4).count())

      // fixed recall-first config (16 tables x 4 planes)...
      runProbe("lsh_cosine_16x4", f, nEmb)(
        graft.llm.Similarity.lshCosinePairs(
          emb, threshold = 0.4, nTables = 16, planesPerTable = 4).count())
      // ...vs the fixed scale point (96 tables x 8 planes: 256-bucket
      // tables keep candidate density near-linear as the corpus grows,
      // at recall 0.90 vs 0.97 measured)
      runProbe("lsh_cosine_96x8", f, nEmb)(
        graft.llm.Similarity.lshCosinePairs(
          emb, threshold = 0.4, nTables = 96, planesPerTable = 8).count())
      // ...vs the DEFAULT: corpus-size-derived auto-tune
      // (Similarity.lshAutoConfig — planes grow with n, tables restore
      // recall 0.9; managed handle releases the bucket cache per run)
      if (enabled("lsh_cosine_auto")) {
        val handle = graft.llm.Similarity.lshCosinePairsManaged(
          emb, threshold = 0.4)
        val (l3, t8) =
          try timed(handle.value.count()) finally handle.close()
        val (at, ap) = graft.llm.Similarity.lshAutoConfig(nEmb, 0.4)
        report(s"lsh_cosine_auto_${at}x$ap", f, nEmb, l3, t8)
      }

      // chunk-level dedup: the planted copies make EVERY chunk over-
      // frequent (worst case — every doc is affected, no fast path)
      runProbe("chunk_dedup", f, nDocs)(
        graft.llm.Dedup.chunkDedup(docs).count())

      // sequence packing: bucketed global prefix sum
      runProbe("pack_sequences", f, nDocs)(
        graft.llm.Mixing.packSequences(docs, seqTokens = 2048).count())

      // quantized brute top-k: 1/100 of the corpus queries the rest
      val q = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      runProbe("quant_topk", f, nEmb)(
        graft.llm.Similarity.bruteTopKQuantized(emb, q, k = 10).count())

      // SemDeDup: cells scaled with the corpus (the paper's recipe) so
      // expected cell size — and with it the within-cell self-join
      // cost per row — stays constant as the corpus grows
      runProbe(s"semdedup_${16 * f}cells", f, nEmb)(
        graft.llm.Similarity.semDedupKmeans(
          emb, nCells = 16 * f, iters = 2, tau = 0.4).count())

      // Gopher repetition stats: pure scan+map kernel — the proof
      // point is near-perfect linear scaling (no shuffle at any f)
      runProbe("gopher_repetition", f, nDocs)(
        // verdict filter forces the kernel (see c4_filter note)
        graft.llm.TextAnalysis.gopherRepetition(docs)
          .filter(col("kept")).count())

      // PQ + exact re-rank: books train on the ORIGINAL-size slice
      // (first copy), the full scaled corpus only encodes + re-ranks —
      // the fixed-training-sample deployment recipe
      if (enabled("pq_rerank_topk")) {
        val pqQ = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"))
        val books = graft.llm.Similarity.pqCodebooks(
          emb.orderBy(col("vec_id")).limit(nEmb.toInt / f), m = 4,
          k = 16, iters = 2)
        val (pq, t14) = timed(graft.llm.Similarity.pqTopKRerank(
          emb, pqQ, books, k = 10, rerank = 100).count())
        report("pq_rerank_topk", f, nEmb, pq, t14)
      }

      // sliding-window chunking: narrow explode, should scale linearly
      runProbe("rag_chunks", f, nDocs)(
        graft.llm.Mixing.slidingChunks(docs).count())

      // temperature mix: one tiny count agg + a literal-rate filter
      runProbe("temperature_sample", f, nDocs)(
        graft.llm.Sampling.temperatureSample(docs, alpha = 0.6).count())

      // exact-substring spans: at f>=2 every copy duplicates EVERY
      // window, so the dup-hash side is the whole distinct-window set
      // — the worst case for the join-back (no broadcast, no
      // dups<<windows shortcut)
      runProbe("substring_spans", f, nDocs)(
        graft.llm.Dedup.substringDupSpans(docs, l = 8).count())

      // Misra-Gries + exact verify: two linear passes, sketch state
      // fixed at m entries per partition whatever the corpus size
      runProbe("heavy_hitters", f, nDocs)(
        graft.llm.HeavyHitters.heavyHitters(docs, k = 30).count())

      // BM25: FIXED query workload (first-copy docs only) against the
      // growing corpus — the deployment shape; match volume and the
      // persisted postings both track corpus size, so the probe should
      // scale near-linearly (a growing query set on this 100%-overlap
      // corpus would instead measure the f² worst case)
      if (enabled("bm25_fixed_queries")) {
        val docStride =
          docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
        val bmQ = docs
          .filter(col("doc_id") < docStride && col("doc_id") % 200 === 0)
          .select(col("doc_id").as("query_id"),
            array_join(slice(graft.llm.TextAnalysis.tokens(col("text")),
              1, 8), " ").as("text"))
        val bmH =
          graft.llm.TextAnalysis.bm25TopKManaged(docs, bmQ, k = 10)
        val (bm, t19) = try timed(bmH.value.count()) finally bmH.close()
        report("bm25_fixed_queries", f, nDocs, bm, t19)
      }

      // JS drift: one (source, token) agg + vocab-sized joins — pure
      // linear-scan proof point like gopher_repetition
      runProbe("js_drift", f, nDocs)(
        graft.llm.TextAnalysis.jsDrift(docs).count())

      // source overlap: the intersection self-join is keyed on shingle
      // hashes with <=1 row per (hash, source) after the distinct —
      // candidate fan-out per key is bounded by |sources|² whatever
      // the corpus size; the probe verifies the per-source distinct
      // (the only corpus-sized stage) dominates and scales linearly
      runProbe("source_overlap", f, nDocs)(
        graft.llm.Dedup.sourceOverlap(docs, n = 3).count())

      // NB langid: training = one (label, token) aggregate cut to a
      // vocab-capped SPARSE seen-pair table (size bounded by the
      // vocab cap however large the corpus); scoring = two linear
      // passes over the corpus + per-doc window. Should track the
      // token volume linearly with a corpus-independent model cost.
      runProbe("nb_langid", f, nDocs)(
        graft.llm.TextAnalysis.nbLangIdConfusion(docs).count())

      // winnow: fingerprint selection is a fused zero-shuffle scan
      // (should be flat like gopher); the pair join runs on the
      // df-capped ~1/w print stream, so growth tracks true shared
      // prints (output-bound), not the corpus square
      runProbe("winnow_pairs", f, nDocs)(
        graft.llm.Dedup.winnowPairs(docs, k = 5, w = 4,
          minShared = 2, maxDf = 50).count())

      // rare n-grams: kernel scan + hash-keyed df agg + join back —
      // the df relation is vocab-shaped, so growth should track the
      // corpus linearly like substring_spans
      runProbe("rare_ngrams", f, nDocs)(
        graft.llm.Dedup.rareNgramStats(docs).count())

      // novelty: a fixed-size batch (the 1x slice) scored against a
      // growing standing corpus — the per-ingest cost at 100 TB is
      // the corpus-side distinct; the batch side is constant
      runProbe("novelty_fixed_batch", f, nDocs)(graft.llm.Dedup
        .batchNovelty(docs.filter(col("doc_id") >= 500),
          docs.filter(col("doc_id") < 500)).count())

      // verified near-dup: stage-1 LSH is output-bound (like
      // minhash_lsh_pairs); the verify stage prices per CANDIDATE —
      // on this duplicate-saturated corpus candidates grow with the
      // planted-clique pair volume, so wall tracks stage-1 output,
      // never the corpus square
      runProbe("verified_pairs", f, nDocs)(
        graft.llm.Dedup.verifiedNearDupPairs(
          docs, tau = 0.8, estThreshold = 0.35).count())

      // KN LM: model relations are bigram-TYPE-bounded (flat on this
      // copy-scaled corpus — the type set never grows), scoring
      // tracks instance volume linearly
      runProbe("kn_lm_score", f, nDocs)(graft.llm.TextAnalysis
        .knLmScore(docs, docs.filter(col("doc_id") % 10 =!= 0)).count())

      // HLL approx-distinct: one pass, fixed sketch state per
      // partition — should be flat-per-byte like token_stats
      runProbe("hll_distinct", f, nDocs)(docs
        .select(col("source"),
          explode(graft.llm.TextAnalysis.tokens(col("text")))
            .as("token"))
        .groupBy(col("source"))
        .agg(approx_count_distinct(col("token"), 0.01).as("ad"))
        .count())

      // dup weights: hash-keyed group + join-back, both corpus-linear
      runProbe("dup_weights", f, nDocs)(
        graft.llm.Dedup.dupWeights(docs).count())

      // topic mix: train-once centroids + one narrow assignment pass;
      // the cross-tab is (label, cell)-bounded
      runProbe("topic_mix", f, nEmb)(
        graft.llm.Similarity.topicMix(emb, nCells = 16, iters = 2)
          .count())

      // C4 cleaning + ensemble: pure row-local scans — both must
      // track corpus volume with no shuffle cost at all. The filter
      // on the computed verdict keeps count() from pruning the
      // kernel work out of the plan.
      runProbe("c4_filter", f, nDocs)(
        graft.llm.TextAnalysis.c4Filter(docs)
          .filter(col("kept")).count())
      runProbe("quality_ensemble", f, nDocs)(
        graft.llm.TextAnalysis.qualityEnsemble(docs)
          .filter(col("keep")).count())

      // prototype pruning: train-once centroids + narrow assignment;
      // the per-cell rank window is the one corpus shuffle
      runProbe("proto_prune", f, nEmb)(
        graft.llm.Similarity.protoPrune(emb,
          graft.llm.Similarity.kmeansCentroids(emb, nCells = 16,
            iters = 2), keepFrac = 0.5)
          .filter(col("kept")).count())

      // domain reweight: cost IS the KN scoring pass (already probed
      // as kn_lm_score); the reweight tail is |sources|-row work
      runProbe("domain_reweight", f, nDocs)(
        graft.llm.TextAnalysis.domainReweight(docs,
          graft.llm.TextAnalysis.knLmScore(docs,
            docs.filter(col("doc_id") % 10 =!= 0))).count())

      // safety scan: row-local regex side + sparse entropy side
      runProbe("safety_scan", f, nDocs)(
        graft.llm.TextAnalysis.safetyScan(docs,
          blockTerms = Seq("merge", "casino777"))
          .filter(col("flagged")).count())

      // corpus diff: id-keyed join of two hash projections (v2 =
      // same corpus with a deterministic 1/7 rewritten slice)
      runProbe("corpus_diff", f, nDocs)(
        graft.llm.Dedup.corpusDiff(docs,
          docs.withColumn("text",
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text"))))
          .count())

      // JL projection: row-local fold, linear scan shape
      runProbe("rand_proj", f, nEmb)(
        graft.llm.Similarity.randProject(emb, outDim = 8)
          .agg(sum(col("p"))).collect().length.toLong)

      // training-order export: |sources|-row plan aggregate +
      // broadcast repeats + narrow shard/ord columns — should track
      // the token-count scan linearly; target scales with the corpus
      // so the epoch geometry (upsample ~1.5x on src0) is constant
      // across factors. Forced through a sum over the computed ord.
      if (enabled("training_order")) {
        val tot = docs.agg(sum(graft.llm.TextAnalysis.tokenCount(
          col("text")))).head().getLong(0)
        runProbe("training_order", f, nDocs)(
          graft.llm.Mixing.trainingOrder(docs,
            Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
            targetTokens = math.max(1L, (tot * 0.15).toLong),
            nShards = 64)
            .agg(sum(col("ord")).as("s"), count(lit(1)).as("n"))
            .head().getLong(1))
      }

      // html strip + accent fold: row-local kernels (verdict filter
      // forces evaluation)
      runProbe("html_strip", f, nDocs)(
        graft.llm.TextAnalysis.htmlStrip(docs)
          .filter(col("markup_ratio") >= 0.0).count())
      runProbe("accent_fold", f, nDocs)(docs
        .select(graft.llm.TextAnalysis.accentFold(col("text"))
          .as("ff"))
        .filter(length(col("ff")) >= 0).count())

      // stratified split: one rank-window shuffle keyed by source
      runProbe("split_stratified", f, nDocs)(
        graft.llm.Sampling.stratifiedSplit(docs)
          .filter(col("split") === "val").count())

      // tf-idf pairs: term-keyed join under the df cap — output-
      // bound like every pair family (copy-scaled corpus saturates
      // term df, so the cap prunes harder as f grows)
      runProbe("tfidf_pairs", f, nDocs)(
        graft.llm.Dedup.tfidfCosinePairs(docs, minSim = 0.1,
          maxDf = 50).count())

      // multimodal dedup end-to-end: banded byte-SimHash pairs ->
      // components -> keep; sketches shuffle, blobs never do
      runProbe("mm_dedup", f, nDocs) {
        val blobs = graft.llm.Multimodal.asBlobs(
          docs.filter(length(col("text")) === octet_length(col("text"))),
          "doc_id", "text", "image")
        graft.llm.Dedup.keepRepresentatives(blobs,
          graft.llm.Dedup.connectedComponents(
            graft.llm.Multimodal.blobNearDupPairs(blobs, maxDist = 3)),
          idCol = "media_id").count()
      }

      // CDC chunking: row-local boundary/slice arrays + one df agg
      runProbe("cdc_chunks", f, nDocs)(
        graft.llm.Dedup.cdcChunks(docs).count())

      // MMR: candidate generation is the broadcast-query corpus scan
      // (Q fixed at the first-copy slice); the greedy loop is
      // O(k·N·dim) per query, constant per query as the corpus grows
      if (enabled("mmr_rerank")) {
        val mmrQ = emb.filter(col("vec_id") % 400 === 0 &&
            col("vec_id") < nEmb / f)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"))
        val (mq, t23) = timed(graft.llm.Similarity.mmrRerank(
          emb, mmrQ, k = 5, nCandidates = 20).count())
        report("mmr_rerank", f, nEmb, mq, t23)
      }

      // count-min sketch: the fixed-state proof point — output is
      // ALWAYS <= depth*width rows; wall should track the scan, state
      // never grows with the corpus (sum over cnt forces evaluation)
      runProbe("cms_sketch", f, nDocs)(
        graft.llm.HeavyHitters.cmsSketch(
          docs.select(explode(graft.llm.TextAnalysis.tokens(
            col("text"))).as("token")), depth = 4, width = 16)
          .agg(sum(col("cnt"))).collect().length.toLong)

      // dedup lineage: the exact-hash agg + component join over the
      // standing pair set — composition cost on top of dedup_clusters
      runProbe("dedup_lineage", f, nDocs)(
        graft.llm.Dedup.dedupLineage(docs,
          graft.llm.Dedup.connectedComponents(
            graft.llm.Dedup.minHashPairs(docs, threshold = 0.35)))
          .filter(col("stage") =!= "kept").count())

      // prefix dedup: one 8-byte-hash aggregate — the exact_dedup
      // shape on a prefix slice
      runProbe("prefix_dedup", f, nDocs)(
        graft.llm.Dedup.prefixGroups(docs, nTok = 8).count())

      // RRF hybrid: both rankers at their scale shapes (fixed query
      // set = the first-copy slice), fusion over 2k-bounded lists
      if (enabled("rrf_fusion")) {
        val qIds = col("doc_id") % 400 === 0 && col("doc_id") < nDocs / f
        val lexQ = docs.filter(qIds)
          .select(col("doc_id").as("query_id"),
            array_join(slice(graft.llm.TextAnalysis.tokens(col("text")),
              1, 8), " ").as("text"))
        val denQ = emb.filter(col("vec_id") % 400 === 0 &&
            col("vec_id") < nEmb / f)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"))
        val (rr, trr) = timed(graft.llm.Similarity.rrfFuse(
          graft.llm.TextAnalysis.bm25TopK(docs, lexQ, k = 20)
            .select(col("query_id"), col("doc_id"), col("rank")),
          graft.llm.Similarity.bruteTopK(emb, denQ, k = 20)
            .select(col("query_id"), col("vec_id").as("doc_id"),
              col("rank")),
          k = 10).count())
        report("rrf_fusion", f, nDocs, rr, trr)
      }

      // profiler: one multi-distinct pass over the copy-scaled docs
      runProbe("profile", f, nDocs)(
        graft.functions.Profile.profile(docs,
          Seq("doc_id", "source", "lang", "n_chars")).count())

      // per-source percentile gate: one source-keyed rank window
      // (the stratified_split shape on a score column)
      runProbe("source_percentile", f, nDocs)(
        graft.llm.Sampling.quantileGate(docs, "n_chars",
          keepFrac = 0.5).filter(col("keep")).count())

      // the windowless 100 TB swaps: per-group approx-quantile cuts
      // instead of the rank/cume windows — cost should track the
      // narrow scan, with NO per-group sort to serialize
      runProbe("split_strat_approx", f, nDocs)(
        graft.llm.Sampling.stratifiedSplitApprox(docs)
          .filter(col("within_band") >= 0).count())
      runProbe("quantile_gate_approx", f, nDocs)(
        graft.llm.Sampling.quantileGateApprox(docs, "n_chars",
          keepFrac = 0.5).filter(col("within_band") >= 0).count())

      // zlib compressibility: pure row-local native kernel — must
      // scale linearly in bytes with zero shuffle
      runProbe("compress_ratio", f, nDocs)(
        graft.llm.TextAnalysis.compressionRatio(docs)
          .filter(col("ratio") >= 0.0).count())

      // index-maintenance family: the BUILD is paid OUTSIDE the
      // timed window (the standing-layer deployment shape) — probes
      // time the serve / patch steps a live system actually repeats
      if (enabled("bm25_layer_serve")) {
        val idx = s"$scratch/bm25idx_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(idx))
        graft.llm.TextAnalysis.bm25PostingsBatch(docs, idx,
          batchId = 0L)
        // FIXED query set (first copy only): the probe measures how
        // serve cost scales with the CORPUS, not with a query count
        // that the copy-scaling would inflate in lockstep
        val stride = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
        val qs = docs.filter(col("doc_id") % 100 === 0 &&
            col("doc_id") < stride)
          .select(col("doc_id").as("query_id"),
            array_join(slice(graft.llm.TextAnalysis.tokens(col("text")),
              1, 8), " ").as("text"))
        runProbe("bm25_layer_serve", f, nDocs)(
          graft.llm.TextAnalysis.bm25TopKFromPostings(spark, idx, qs,
            k = 5).count())
      }
      // impact-pruned lexical serve in the regime it exists for:
      // SELECTIVE queries over a growing corpus. Docs are salted with
      // one rare token per (nDocs/50)-sized group — group count grows
      // with the factor so every rare token's df stays ~50; queries
      // are 8 rare tokens each. The pruned serve touches |T_q| x df
      // candidate postings with a PROVEN bound (rare tails are 0 at
      // df <= sliceM) and should stay flat; the plain serve computes
      // contributions for the whole growing layer — the contrast the
      // r14 64x finding (plain serve 3.9 -> 9.8 s) motivated.
      if (enabled("bm25_pruned_serve") ||
          enabled("bm25_pruned_weighted_serve") ||
          enabled("bm25_pruned_weighted_saturated")) {
        import spark.implicits._
        val idx = s"$scratch/bm25prune_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(idx))
        val nGroups = math.max(50L, nDocs / 50L)
        val salted = docs.withColumn("text",
          concat(col("text"), lit(" rk"),
            pmod(col("doc_id"), lit(nGroups))))
        graft.llm.TextAnalysis.bm25PostingsBatch(salted, idx,
          batchId = 0L)
        val qs = (0 until 13).map(q => (q.toLong,
          (0 until 8).map(i => s"rk${(q * 97 + i * 31) % nGroups}")
            .mkString(" "))).toDF("query_id", "text")
        runProbe("bm25_pruned_serve", f, nDocs)(
          graft.llm.TextAnalysis.bm25TopKFromPostingsPruned(
            spark, idx, qs, k = 5).count())
        runProbe("bm25_pruned_serve_full", f, nDocs)(
          graft.llm.TextAnalysis.bm25TopKFromPostings(
            spark, idx, qs, k = 5).count())
        // WEIGHTED (bag-query) twin on the same salted layer: half
        // the rare tokens repeat (qtf=2) so the weighted arithmetic
        // (per-term qtf-scaled tails) genuinely engages; the _full
        // row is the weighted full scan over the same queries —
        // mirrors the set-query contrast above in the selective
        // regime the pruned face exists for
        val qsW = (0 until 13).map(q => (q.toLong,
          (0 until 8).map { i =>
            val t = s"rk${(q * 97 + i * 31) % nGroups}"
            if (i % 2 == 0) s"$t $t" else t
          }.mkString(" "))).toDF("query_id", "text")
        runProbe("bm25_pruned_weighted_serve", f, nDocs)(
          graft.llm.TextAnalysis.bm25TopKFromPostingsPrunedWeighted(
            spark, idx, qsW, k = 5).count())
        runProbe("bm25_pruned_weighted_serve_full", f, nDocs)(
          graft.llm.TextAnalysis.bm25TopKWeightedFromPostings(
            spark, idx, qsW, k = 5).count())
        // SATURATED regime: bag queries of natural tokens (every
        // token doubled, no rare salts) — every matched term's df
        // grows with the corpus, so the router short-circuits the
        // whole batch to the weighted full scan; the row measures
        // the deployed face's honest saturated cost (routing gate +
        // full weighted scan), the curve corpus-bound by design
        val stride0 =
          docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
        val pre = array_join(slice(
          graft.llm.TextAnalysis.tokens(col("text")), 1, 6), " ")
        val qsSat = docs.filter(col("doc_id") % 100 === 0 &&
            col("doc_id") < stride0)
          .select(col("doc_id").as("query_id"),
            concat(pre, lit(" "), pre).as("text"))
        runProbe("bm25_pruned_weighted_saturated", f, nDocs)(
          graft.llm.TextAnalysis.bm25TopKFromPostingsPrunedWeighted(
            spark, idx, qsSat, k = 5).count())
      }
      // deployed-shape hybrid serve: standing BM25 postings + IVF
      // index built untimed per factor; the timed work is the FIXED
      // query set's lexical serve + probed dense serve + RRF fuse —
      // the cost a live retrieval tier repeats per query batch
      if (enabled("rrf_indexed_serve")) {
        val bmIdx = s"$scratch/rrfserve_bm25_$f"
        val ivIdx = s"$scratch/rrfserve_ivf_$f"
        Seq(bmIdx, ivIdx).foreach(d =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(d)))
        graft.llm.TextAnalysis.bm25PostingsBatch(docs, bmIdx,
          batchId = 0L)
        val cents = graft.llm.Similarity.kmeansCentroidsUncached(
          emb.orderBy(col("vec_id")).limit(nEmb.toInt / f),
          nCells = 16, iters = 2)
        graft.llm.Similarity.ivfWriteIndex(emb, cents, ivIdx)
        val stride = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
        val lexQ = docs.filter(col("doc_id") % 100 === 0 &&
            col("doc_id") < stride)
          .select(col("doc_id").as("query_id"),
            array_join(slice(graft.llm.TextAnalysis.tokens(col("text")),
              1, 8), " ").as("text"))
        val denQ = emb.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < stride)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"))
        // lexical arm = the impact-pruned serve (the deployed face
        // llm_rrf_indexed ships): on THIS corpus's full-overlap
        // vocabulary every natural query saturates, so the router
        // sends them all to the full scan and the probe measures the
        // full-scan curve plus the routing aggregate — the honest
        // saturated-regime cost of the deployed face
        runProbe("rrf_indexed_serve", f, nDocs)(
          graft.llm.Similarity.rrfFuse(
            graft.llm.TextAnalysis.bm25TopKFromPostingsPruned(spark,
                bmIdx, lexQ, k = 20)
              .select(col("query_id"), col("doc_id"), col("rank")),
            graft.llm.Similarity.ivfTopKIndexedAuto(spark, ivIdx,
                denQ, k = 20, nProbe = 4)
              .select(col("query_id"),
                col("vec_id").as("doc_id"), col("rank")),
            k = 10).count())
        // SELECTIVE-regime twin — the regime real text serves
        // (queries carry rare terms): same dense arm and fuse, but
        // the postings layer is salted (df ~ 50 per salt at every
        // factor) and the lexical queries are rare-token, so the
        // slice arm answers them with a proven bound and the hybrid
        // serve should stay flat as the corpus grows
        val bmSel = s"$scratch/rrfserve_bm25sel_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(bmSel))
        val nGroupsSel = math.max(50L, nDocs / 50L)
        graft.llm.TextAnalysis.bm25PostingsBatch(
          docs.withColumn("text", concat(col("text"), lit(" rk"),
            pmod(col("doc_id"), lit(nGroupsSel)))),
          bmSel, batchId = 0L)
        // query_ids share the dense arm's domain (multiples of 100)
        // so rrfFuse exercises the real per-query two-ranker merge,
        // not a full-outer join over disjoint keys
        val lexQSel = {
          import spark.implicits._
          (0 until 13).map(q => (q.toLong * 100L,
            (0 until 8).map(i => s"rk${(q * 97 + i * 31) % nGroupsSel}")
              .mkString(" "))).toDF("query_id", "text")
        }
        runProbe("rrf_indexed_serve_selective", f, nDocs)(
          graft.llm.Similarity.rrfFuse(
            graft.llm.TextAnalysis.bm25TopKFromPostingsPruned(spark,
                bmSel, lexQSel, k = 20)
              .select(col("query_id"), col("doc_id"), col("rank")),
            graft.llm.Similarity.ivfTopKIndexedAuto(spark, ivIdx,
                denQ, k = 20, nProbe = 4)
              .select(col("query_id"),
                col("vec_id").as("doc_id"), col("rank")),
            k = 10).count())
      }
      // IVF serve geometry contrast: the SAME fixed query set over
      // (a) a FIXED 16-cell index — probed-cell population grows
      // with the corpus, so serve cost grows too — vs (b) the
      // ivfAutoCells DEPLOYMENT geometry (cells ∝ corpus/targetCell)
      // where probed candidate mass is bounded by nProbe·targetCell
      // and the serve should stay flat at any factor. Index builds
      // are untimed (the train-once price of bounded serve cost).
      if (enabled("ivf_indexed_serve")) {
        val stride0 =
          emb0.agg(max(col("vec_id"))).head().getLong(0) + 1L
        val denQ = emb.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < stride0)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"))
        def buildAndServe(tag: String, nCells: Int): Unit = {
          val idx = s"$scratch/ivfserve_${tag}_$f"
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(idx))
          val cents = graft.llm.Similarity.kmeansCentroidsUncached(
            emb, nCells = nCells, iters = 1)
          graft.llm.Similarity.ivfWriteIndex(emb, cents, idx)
          runProbe(s"ivf_indexed_serve_$tag", f, nEmb)(
            graft.llm.Similarity.ivfTopKIndexedAuto(spark, idx,
              denQ, k = 20, nProbe = 4).count())
        }
        buildAndServe("fixed", 16)
        buildAndServe("auto",
          graft.llm.Similarity.ivfAutoCells(nEmb))
      }
      // hard-negative mining: fixed queries against the growing
      // corpus — candidate mass grows with the probed cells' share,
      // never the full cross product
      if (enabled("hard_negatives_ivf")) {
        val cents = graft.llm.Similarity.kmeansCentroidsUncached(
          emb.orderBy(col("vec_id")).limit(nEmb.toInt / f),
          nCells = 16, iters = 2)
        val corpus = emb.withColumn("source",
          concat(lit("src"), pmod(col("vec_id"), lit(5L))))
        val embStride = emb0.agg(max(col("vec_id"))).head().getLong(0) + 1L
        val hq = corpus.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < embStride)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"), col("source"))
        runProbe("hard_negatives_ivf", f, nEmb)(
          graft.llm.Similarity.hardNegativesIvf(cents, corpus, hq,
            k = 5, nProbe = 4).count())
      }
      if (enabled("ivf_patch")) {
        val idx = s"$scratch/ivfidx_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(idx))
        val cents = graft.llm.Similarity.kmeansCentroidsUncached(
          emb, nCells = 16, iters = 1)
        graft.llm.Similarity.ivfWriteIndex(emb, cents, idx)
        val newC = graft.llm.Similarity.kmeansUpdate(
          emb.filter(col("vec_id") % 2 === 1), cents)
        runProbe("ivf_patch", f, nEmb)(
          graft.llm.Similarity.ivfPatchIndex(spark, idx, newC)._1)
      }
      // wide-geometry trending lookup: trendingFromCounts' cost vs
      // SKETCH WIDTH at a fixed corpus (the plan-literal device is
      // capped at 1e4 cells; this probes the claim that the
      // broadcast-join path stays flat as geometry grows).
      // The synthetic sketch is DENSE — every (row,bucket) cell
      // non-zero — so the broadcast truly carries 4*w cells.
      if (f == 1 && enabled("trend_wide")) {
        val counts = docs.select(explode(
            graft.llm.TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("batch_cnt"))
        Seq(16, 4096, 65536).foreach { w =>
          val cells = spark.range(4L * w).select(
            (col("id") % 4).cast("int").as("row"),
            (col("id") / 4).as("bucket"),
            (col("id") % 97 + 1).as("cnt"))
          runProbe(s"trend_wide_w$w", f, 4L * w)(
            graft.llm.HeavyHitters.trendingFromCounts(counts, cells,
              "token", depth = 4, width = w).count())
        }
      }
      // perceptual media family: REAL-codec decode + banded pair
      // join vs corpus size. Blobs materialize OUTSIDE the timed
      // window (parquet, like docs/emb); every 10th blob is a
      // re-encode of its predecessor's raster/PCM, so found pairs
      // grow linearly and the join can't shortcut to empty.
      // splitmix64 finalizer for fixture randomness: a bare
      // multiplicative hash of linear keys is AFFINE, and the
      // difference-based perceptual hashes are shift-invariant, so
      // images at constant seed offsets shared most dHash bits
      // (measured 5604 distinct of 6400) — the xor-shift mixing
      // breaks the affinity
      def mix64(k: Long): Long = {
        var z = k * -7046029254386353131L
        z = (z ^ (z >>> 30)) * -4658895280553007687L
        z = (z ^ (z >>> 27)) * -7723592293110705685L
        z ^ (z >>> 31)
      }
      if (enabled("media_phash")) {
        import spark.implicits._
        val dir = s"$scratch/blobs_img_$f"
        if (!new java.io.File(dir).exists) {
          spark.range(400L * f).as[Long].mapPartitions { it =>
            it.map { i =>
              val seed = if (i % 10 == 0 && i > 0) i - 1 else i
              // content must vary at the dHash CELL scale to be
              // discriminative (pixel-frequency noise averages to a
              // flat grid; whole-image gradients all hash alike), so
              // paint blocks ALIGNED to the 9x8 cell grid (288x192
              // -> exact 32x24 cells), each colored by a mixed hash
              // of (seed, cell) — every image's cell grid is then an
              // independent random pattern and accidental hash
              // collisions vanish (misaligned blocks blend across
              // cell boundaries and bleed entropy: measured 5501
              // distinct hashes of 6400 at 256x192/32x32)
              val img = new java.awt.image.BufferedImage(288, 192,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var by = 0
              while (by < 8) {
                var bx = 0
                while (bx < 9) {
                  val hb = mix64(seed * 72 + by * 9 + bx + 1)
                  val rgb = ((hb >>> 40) & 0xFFFFFF).toInt
                  var y = by * 24
                  while (y < by * 24 + 24) {
                    var x = bx * 32
                    while (x < bx * 32 + 32) {
                      img.setRGB(x, y, rgb)
                      x += 1
                    }
                    y += 1
                  }
                  bx += 1
                }
                by += 1
              }
              val out = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img,
                if (i % 10 == 0 && i > 0) "bmp" else "png", out)
              (i, out.toByteArray)
            }
          }.toDF("media_id", "content").write.mode("overwrite")
            .parquet(dir)
        }
        runProbe("media_phash_pairs", f, 400L * f)(
          graft.llm.Multimodal.phashNearDupPairs(
            spark.read.parquet(dir)).count())
      }
      if (enabled("media_afp")) {
        import spark.implicits._
        val dir = s"$scratch/blobs_aud_$f"
        if (!new java.io.File(dir).exists) {
          spark.range(400L * f).as[Long].mapPartitions { it =>
            it.map { i =>
              val seed = if (i % 10 == 0 && i > 0) i - 1 else i
              val aiff = i % 10 == 0 && i > 0
              val frames = 8000
              val pcm = new Array[Byte](frames * 2)
              // per-(clip, segment) amplitude envelope from a MIXED
              // hash of (seed, segment): energy contours must vary
              // randomly at segment scale per clip or the whole
              // corpus shares one near-flat contour and collides
              var j = 0
              while (j < frames) {
                val seg = j / 125
                val hb = mix64(seed * 64 + seg + 1)
                val amp = 1 + ((hb >>> 49) % 7L).toInt
                val v = ((((j.toLong * (2 * seed + 1) * 2654435761L)
                  % 65536L) - 32768L) / 8L).toInt * amp / 2
                if (aiff) {
                  pcm(2 * j) = ((v >> 8) & 0xFF).toByte
                  pcm(2 * j + 1) = (v & 0xFF).toByte
                } else {
                  pcm(2 * j) = (v & 0xFF).toByte
                  pcm(2 * j + 1) = ((v >> 8) & 0xFF).toByte
                }
                j += 1
              }
              val fmt = new javax.sound.sampled.AudioFormat(
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
                8000f, 16, 1, 2, 8000f, aiff)
              val ais = new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(pcm), fmt,
                frames.toLong)
              val out = new java.io.ByteArrayOutputStream()
              javax.sound.sampled.AudioSystem.write(ais,
                if (aiff)
                  javax.sound.sampled.AudioFileFormat.Type.AIFF
                else javax.sound.sampled.AudioFileFormat.Type.WAVE,
                out)
              (i, out.toByteArray)
            }
          }.toDF("media_id", "content").write.mode("overwrite")
            .parquet(dir)
        }
        runProbe("media_afp_pairs", f, 400L * f)(
          graft.llm.Multimodal.audioNearDupPairs(
            spark.read.parquet(dir)).count())
      }
      if (enabled("media_video")) {
        import spark.implicits._
        val dir = s"$scratch/blobs_vid_$f"
        if (!new java.io.File(dir).exists) {
          spark.range(200L * f).as[Long].mapPartitions { it =>
            it.map { i =>
              val seed = if (i % 10 == 0 && i > 0) i - 1 else i
              // 5 frames, 63x48 (NOT 64: 63 = 9 dHash columns x 7px
              // so blocks align to cells exactly — the media_phash
              // fixture rationale on the time axis)
              val frames = (0 until 5).map { fr =>
                val img = new java.awt.image.BufferedImage(63, 48,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                var by = 0
                while (by < 8) {
                  var bx = 0
                  while (bx < 9) {
                    val hb = mix64(
                      (seed * 5 + fr) * 72 + by * 9 + bx + 1)
                    val rgb = ((hb >>> 40) & 0xFFFFFF).toInt
                    var y = by * 6
                    while (y < by * 6 + 6) {
                      var x = bx * 7
                      while (x < bx * 7 + 7) {
                        img.setRGB(x, y, rgb)
                        x += 1
                      }
                      y += 1
                    }
                    bx += 1
                  }
                  by += 1
                }
                img
              }
              (i, graft.llm.Multimodal.encodeGif(frames))
            }
          }.toDF("media_id", "content").write.mode("overwrite")
            .parquet(dir)
        }
        runProbe("media_video_pairs", f, 200L * f)(
          graft.llm.Multimodal.videoNearDupPairs(
            spark.read.parquet(dir)).count())
      }
      if (enabled("pq_patch")) {
        // build OUTSIDE the window; the probe times diff-scan +
        // affected-bucket rewrite — the repeated maintenance step
        val idx = s"$scratch/pqidx_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(idx))
        graft.llm.Similarity.clearTrainedCache()
        val books = graft.llm.Similarity.pqCodebooks(emb, m = 4,
          k = 16, iters = 1)
        graft.llm.Similarity.pqWriteIndex(emb, books, idx)
        val newBooks = graft.llm.Similarity.pqCodebooks(
          emb.filter(col("vec_id") % 2 === 1), m = 4, k = 16,
          iters = 1)
        runProbe("pq_patch", f, nEmb)(
          graft.llm.Similarity.pqPatchIndexAuto(spark, idx, emb,
            newBooks)._1)
      }

      // prefix-filtered EXACT jaccard join vs its brute baseline at
      // the same threshold: cost tracks the candidate stream
      // (prefix-shingle collisions), not N². NOTE the regime: the
      // filter prunes with rarest-first prefixes — on this
      // duplicate-saturated tiny-vocab corpus at LOW thresholds the
      // prefix is ~(1-t) of each doc and every shingle is common, so
      // brute's codegen cross join can win; at t >= 0.5 (and on any
      // Zipfian real corpus) the equi-join path is the one that
      // survives scale (probe evidence in BASELINE.md).
      // SATURATED regime capped at 16x: under copy-scaling every
      // cross-copy pair of a duplicated doc is an output pair, so
      // rows_out grows ~f² BY CONSTRUCTION (measured 256 → 34k →
      // 665k pairs at 1/4/16x, sec/pair FALLING 240→135µs — the
      // output-bound claim, measured); at 64x that is ~10.6M pairs
      // over ~10⁹ candidates and the run exceeds a single node's
      // memory budget (26 GB heap, AQE stall — r14 measured). The
      // 64x corpus-growth tier is jaccard_prefix_salted below.
      if (f <= 16) runProbe("jaccard_prefix", f, nDocs)(
        graft.llm.Dedup.jaccardPairsPrefix(docs, n = 3,
          threshold = 0.5).count())
      // brute baseline at factor 1 ONLY: at 4x it is a 400M-pair
      // cross join — the probe would spend its whole budget proving
      // the O(N²) it is declared to be
      if (f == 1) runProbe("jaccard_brute", f, nDocs)(
        graft.llm.Dedup.jaccardPairsBrute(docs, n = 3,
          threshold = 0.5).count())
      // 64x-TIER variant: a copy-unique salt token replaces every
      // 3rd token, so EVERY 3-shingle of every copy contains a salt
      // position — cross-copy shingles all differ, candidate buckets
      // go copy-local, and rows_out grows ~linearly in f (within-copy
      // near-dup pairs only, identically salted). This is the
      // realistic 64x regime: a corpus 64x bigger is new content,
      // not 64 verbatim copies of itself — the probe measures the
      // prefix filter's candidate-pruning path at true corpus growth
      // while the capped probe above pins the output-bound regime.
      // stride computed OUTSIDE the timed body (like the sibling
      // probes) — the max-aggregation is setup, not serve cost
      val saltStride =
        docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
      // SPARK_GRAFT_JACCARD_STORAGE tunes the shingle persist for the
      // single-JVM heap experiment (the r14 64x finding: heap
      // pressure, not shuffle, dominates the salted superlinearity):
      // mem_disk (default) | mem_disk_ser | disk_only
      val jaccardStorage = sys.env.getOrElse(
          "SPARK_GRAFT_JACCARD_STORAGE", "mem_disk") match {
        case "mem_disk_ser" =>
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
        case "disk_only" =>
          org.apache.spark.storage.StorageLevel.DISK_ONLY
        case _ =>
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      }
      val saltedJ = {
        val stride0 = saltStride
        val toks = filter(split(col("text"), " "), t => t =!= "")
        val cpy = floor(col("doc_id") / lit(stride0.toDouble))
          .cast("long").cast("string")
        docs.withColumn("text",
          array_join(zip_with(toks,
            sequence(lit(0), greatest(size(toks) - 1, lit(0))),
            (t, i) => when(pmod(i, lit(3)) === 0,
              concat(lit("zq"), cpy)).otherwise(t)), " "))
      }
      runProbe("jaccard_prefix_salted", f, nDocs)(
        graft.llm.Dedup.jaccardPairsPrefix(saltedJ, n = 3,
          threshold = 0.5, storage = jaccardStorage).count())
      // OUT-OF-CORE slab twin: same salted regime, zero heap persist
      // — shingles + prefix stream disk-materialized, candidates
      // generated and verified per shingle-hash slab. The single-node
      // answer to the 64x heap cliff the probe above measures; slab
      // count is data-derived and printed by the operator itself.
      runProbe("jaccard_prefix_salted_slab", f, nDocs)(
        graft.llm.Dedup.jaccardPairsPrefixSlabbed(saltedJ, n = 3,
          threshold = 0.5,
          scratchDir = s"$scratch/jslab_$f").count())

      // unigram trainer: type-bounded model — word TYPES are fixed
      // under copy-scaling, so the whole train should be flat; the
      // memo registry is cleared so every factor trains fresh
      runProbe("unigram_train", f, nDocs) {
        graft.llm.Similarity.clearTrainedCache()
        graft.llm.TextAnalysis.unigramTrain(docs).count()
      }

      // WordPiece trainer: same type-bounded discipline as unigram —
      // word types are fixed under copy-scaling, so the 8 rounds of
      // (pair agg + symbol agg + merge) over the distinct-word table
      // should be flat in the corpus factor
      runProbe("wordpiece_train", f, nDocs) {
        graft.llm.Similarity.clearTrainedCache()
        graft.llm.TextAnalysis.wordpieceTrain(docs, merges = 8).count()
      }

      // corpus data card: the release report — one regex/langid
      // projection + two aggregations, linear scan shape
      runProbe("corpus_report", f, nDocs)(
        graft.llm.TextAnalysis.corpusReport(docs,
          Seq("badterm1", "casino777")).count())

      // feature-hash embeddings: token agg + 8-byte (id, bucket)
      // keys — linear scan shape, state <= dim per doc
      runProbe("hash_embed", f, nDocs)(
        graft.llm.TextAnalysis.hashEmbedSparse(docs, dim = 64)
          .agg(sum(col("v"))).collect().length.toLong)

      // z-order rewrite: one range shuffle + local sort + write —
      // the clustering write-amplification, linear in volume
      runProbe("zorder_layout", f, nDocs) {
        val dest = s"$scratch/zorder_$f"
        graft.functions.ZOrder.zorderLayout(
            docs.select(col("doc_id"), col("n_chars"),
              length(col("source")).cast("long").as("src_len")),
            "doc_id", "n_chars", numFiles = 8)
          .write.mode("overwrite").parquet(dest)
        spark.read.parquet(dest).count()
      }

      // text-only sparse-dot top-k: fixed query set (first-copy
      // slice), bucket posting join — cost tracks the match stream
      if (enabled("hash_topk")) {
        val htq = docs.filter(col("doc_id") % 400 === 0 &&
            col("doc_id") < nDocs / f)
          .select(col("doc_id").as("query_id"), col("text"))
        val (ht, tht) = timed(graft.llm.TextAnalysis.hashTopK(
          docs, htq, k = 10).count())
        report("hash_topk", f, nDocs, ht, tht)
      }

      // --- compliance-maintenance probes. Layer layout: batch = copy
      // index, so the layer holds f ORIGINAL-SIZE partitions and the
      // id set (drawn from the first copy only) always affects exactly
      // ONE fixed-size partition while the corpus grows 16x. The
      // takedown claim under test: the rewrite is ∝ affected-partition
      // mass (flat here); the discovery semi-join is the one
      // corpus-linear term (a cheap broadcast-filter scan — you cannot
      // remove ids you have not found).
      val copyStride = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
      def copyLayer(dest: String): Unit =
        docs.withColumn("ingest_batch",
            (col("doc_id") / copyStride).cast("long"))
          .write.mode("overwrite").partitionBy("ingest_batch")
          .parquet(dest)
      if (enabled("takedown_layer")) {
        val ldir = s"$scratch/takedown_layer_$f"
        copyLayer(ldir) // build outside the timed window
        val ids = docs0.filter(col("doc_id") % 10 === 3).select("doc_id")
        val ((rm, _), tdt) = timed(
          graft.llm.Takedown.layerTakedown(spark, ldir, ids, "doc_id"))
        report("takedown_layer", f, nDocs, rm, tdt)
      }
      // bm25 takedown over a standing postings layer: batch 0 is the
      // fixed-size first copy (holds every takedown id), batch 1 the
      // growing remainder — the rewrite touches batch 0's postings/
      // stats partitions only (∝ affected-batch mass, flat), while the
      // id discovery semi-join is the one corpus-linear term
      if (enabled("bm25_takedown")) {
        val bdir = s"$scratch/bm25_takedown_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(bdir))
        graft.llm.TextAnalysis.bm25PostingsBatch(
          docs.filter(col("doc_id") < copyStride), bdir, batchId = 0L)
        if (f > 1)
          graft.llm.TextAnalysis.bm25PostingsBatch(
            docs.filter(col("doc_id") >= copyStride), bdir,
            batchId = 1L)
        val ids = docs0.filter(col("doc_id") % 10 === 3)
          .select("doc_id")
        val ((brm, _), tbt) = timed(
          graft.llm.Takedown.bm25Takedown(spark, bdir, ids))
        report("bm25_takedown", f, nDocs, brm, tbt)
      }
      // the WHOLE layer one batch, so the takedown's postings scan
      // and rewrite are corpus-sized; ids stay first-copy-fixed so the
      // only growing term is layer mass, not removed-doc mass.
      if (enabled("bm25_takedown_1b")) {
        val bdir = s"$scratch/bm25_takedown1b_$f"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(bdir))
        graft.llm.TextAnalysis.bm25PostingsBatch(docs, bdir,
          batchId = 0L)
        val ids1 = docs0.filter(col("doc_id") % 10 === 3)
          .select("doc_id")
        val ((brm1, _), tb1) = timed(
          graft.llm.Takedown.bm25Takedown(spark, bdir, ids1))
        report("bm25_takedown_1batch", f, nDocs, brm1, tb1)
      }
      // cms takedown: the sketch debit re-sketches ONLY the removed
      // docs' text (fixed mass here) — the corpus semi-join that
      // finds them is the linear term; the fold itself is
      // geometry-bounded (d·w cells per batch partition)
      if (enabled("cms_takedown")) {
        val sdir = s"$scratch/cms_takedown_sketch_$f"
        val cdir = s"$scratch/cms_takedown_corpus_$f"
        Seq(sdir, cdir).foreach(d =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(d)))
        copyLayer(cdir)
        graft.streaming.IngestStream.cmsBatch(
          docs.filter(col("doc_id") < copyStride), sdir, batchId = 0L)
        if (f > 1)
          graft.streaming.IngestStream.cmsBatch(
            docs.filter(col("doc_id") >= copyStride), sdir,
            batchId = 1L)
        val ids = docs0.filter(col("doc_id") % 10 === 3)
          .select("doc_id")
        val (crm, tct) = timed(
          graft.llm.Takedown.cmsTakedown(spark, sdir, cdir, ids))
        report("cms_takedown", f, nDocs, crm, tct)
      }
      // retention: whole-partition deletes — no data read beyond the
      // footer-bounded audit count; should stay near-flat even as the
      // DROPPED mass grows with the corpus
      if (enabled("retention_layer")) {
        val rdir = s"$scratch/retention_layer_$f"
        copyLayer(rdir)
        val keepFrom = math.max(1L, f / 2L)
        val ((_, dropped), trt) = timed(
          graft.streaming.IngestStream.layerRetention(spark, rdir,
            keepFrom))
        report("retention_layer", f, nDocs, dropped, trt)
      }
      // index-fit gauge: one narrow nearest_cell_dist pass + a
      // single-row fold — should scale linearly with the batch, no
      // shuffle beyond the final combine
      if (enabled("ivf_fit_gauge")) {
        val cents = graft.llm.Similarity.kmeansCentroidsUncached(
          emb.orderBy(col("vec_id")).limit(nEmb.toInt / f),
          nCells = 16, iters = 2)
        val (fg, tfg) = timed(graft.llm.Similarity.indexFitReport(
          emb, cents, tau = 0.47).collect().length.toLong)
        report("ivf_fit_gauge", f, nEmb, fg, tfg)
      }
      // filtered ANN serve: centroids train on the first-copy slice
      // (fixed-training recipe), the full corpus only assigns at
      // build (untimed); the timed serve scans probed cells ∩
      // predicate — candidate mass grows with the corpus, the
      // predicate prunes it 5x at the reader
      // delta-append lifecycle: APPEND cost is batch-proportional
      // (assign + one segment write — flat while the index grows
      // 16x); COMPACT rewrites every delta-receiving cell, and a
      // spread batch touches all of them — expected to grow with the
      // corpus, which is exactly why the hot path is append and
      // compaction is scheduled maintenance
      if (enabled("ivf_append")) {
        val adir = s"$scratch/ivf_append_$f"
        val cents = graft.llm.Similarity.kmeansCentroidsUncached(
          emb.orderBy(col("vec_id")).limit(nEmb.toInt / f),
          nCells = 16, iters = 2)
        graft.llm.Similarity.ivfWriteIndex(emb, cents, adir)
        val batch = emb0.select(
          (col("vec_id") + lit(nEmb * 2)).as("vec_id"),
          col("embedding"))
        val (ar, ta) = timed(graft.llm.Similarity.ivfAppendBatch(
          spark, adir, batch, batchId = 0L))
        report("ivf_append_batch", f, nEmb, ar, ta)
        val ((cr, _), tc) = timed(
          graft.llm.Similarity.ivfCompactDelta(spark, adir))
        report("ivf_compact_delta", f, nEmb, cr, tc)
      }
      // relational-family probes (r21, VERDICT r20 #1): the bench's
      // rel queries are all at/under ~1 s at sf0.1 where the suite is
      // planning-bound — these probe the family's three core shapes
      // (shuffle join + agg, per-key window, group agg) on a
      // copy-scaled lineitem/orders pair so the data plane's
      // 8-vs-32-core scaling is measurable. Copies offset o_orderkey
      // AND o_custkey by their strides: the join key set scales with
      // the corpus (never a hot key), and window partitions stay
      // original-sized while their COUNT scales — the 100 TB shape.
      if (enabled("rel_join_agg") || enabled("rel_window") ||
          enabled("rel_group_agg")) {
        val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val or0 = spark.read.parquet(s"$sfDir/orders.parquet")
        val okStride =
          or0.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
        val ckStride =
          or0.agg(max(col("o_custkey"))).head().getLong(0) + 1L
        val liDest = s"$scratch/rel_li_$f"
        val orDest = s"$scratch/rel_or_$f"
        (0 until f).map(i => li0.withColumn("l_orderkey",
            col("l_orderkey") + lit(i.toLong * okStride)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(liDest)
        (0 until f).map(i => or0
            .withColumn("o_orderkey",
              col("o_orderkey") + lit(i.toLong * okStride))
            .withColumn("o_custkey",
              col("o_custkey") + lit(i.toLong * ckStride)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(orDest)
        val liS = spark.read.parquet(liDest)
        val orS = spark.read.parquet(orDest)
        val nLi = liS.count(); val nOr = orS.count()
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
        runProbe("rel_join_agg", f, nLi)(
          liS.join(orS, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(sum(dec(col("l_extendedprice")) *
                (lit(1) - dec(col("l_discount"))))
                .cast("double").as("revenue"),
              count(lit(1)).as("n_items"))
            .count())
        runProbe("rel_window", f, nOr) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          orS.withColumn("rn", row_number().over(w))
            .withColumn("running_price", sum(dec(col("o_totalprice")))
              .over(w.rowsBetween(org.apache.spark.sql.expressions
                .Window.unboundedPreceding, 0)).cast("double"))
            .filter(col("rn") <= 3).count()
        }
        runProbe("rel_group_agg", f, nOr)(
          orS.groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("n_orders"),
              sum(dec(col("o_totalprice"))).as("sum_price"))
            .count())
      }
      if (enabled("ivf_filtered_topk")) {
        val idir = s"$scratch/ivf_filtered_$f"
        val cents = graft.llm.Similarity.kmeansCentroidsUncached(
          emb.orderBy(col("vec_id")).limit(nEmb.toInt / f),
          nCells = 16, iters = 2)
        graft.llm.Similarity.ivfWriteIndex(
          emb.withColumn("grp", col("vec_id") % 5), cents, idir,
          attrCols = Seq("grp"))
        val embStride = emb0.agg(max(col("vec_id"))).head().getLong(0) + 1L
        val fq = emb.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < embStride)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_vec"))
        val (fr, tft) = timed(graft.llm.Similarity.ivfTopKIndexedWhere(
          spark, idir, fq, k = 10,
          predicate = col("grp") === 2).count())
        report("ivf_filtered_topk", f, nEmb, fr, tft)
      }
    }
    spark.stop()
  }
}
