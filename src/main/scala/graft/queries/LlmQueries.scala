package graft.queries

import graft.llm._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-data-pipeline operator pack as driver-checkable queries:
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding
  * cosine), similarity search (brute top-k / IVF / hyperplane-LSH),
  * text analysis (tokens, quality, lang-ID, fingerprints), multimodal
  * feature plumbing.
  *
  * Oracle policy: EVERY query has a DuckDB oracle. The sketch ops
  * (MinHash/SimHash/LSH/IVF/fingerprint) are oracle-reproducible by
  * construction: under the "md5" hash family (which Verify forces —
  * see [[graft.functions.SketchOps.FamilyKey]]) their kernels hash
  * with MD5 and permute with literal affine maps, and the generated
  * oracle SQL below splices the same seeded constants as literals.
  * Double formulas accumulate left-to-right on both sides, so hashes
  * match bit-for-bit after round(…,6). Production (and the bench)
  * runs the same plans under the XXH64 family. Recall against
  * brute-force ground truth is additionally asserted in LlmSpec.
  */
object LlmQueries {
  import Star.table
  import MediaFixtures._

  // Near-dup clusters are a corpus-version artifact, like centroids
  // and codebooks (Similarity's train-once registry): build the
  // MinHash-LSH pair set + connected components ONCE per corpus
  // snapshot and let every consumer (cluster listing, best-per-cluster
  // selection, representative dedup) read the same small table. The
  // artifact is persisted through the content-addressed Parquet
  // [[graft.cache.Memo]] (key = op version + hash family + corpus
  // fingerprint), so consumers scan a memo parquet — nothing is
  // collected to the driver, the result survives the JVM, and on a
  // cluster the memo root can live on shared storage. The per-session
  // map only caches the (cheap) parquet-read handle so repeated calls
  // skip re-fingerprinting the corpus listing.
  private val componentsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      DataFrame]

  /** Memo root for corpus-version artifacts: session conf / sysprop
    * `spark.graft.memo.root`, defaulting to a JVM-tmpdir store. Set it
    * to shared storage (s3a://...) for cluster-wide reuse. */
  private def memoRoot(s: SparkSession): String =
    s.conf.getOption(MemoRootKey)
      .orElse(sys.props.get(MemoRootKey))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-corpus-memo")

  val MemoRootKey = "spark.graft.memo.root"

  /** Standing-layer guard for the deployed-shape queries: build once
    * per CORPUS CONTENT, then serve. The `_READY` sentinel stores the
    * [[graft.cache.Memo.fingerprint]] of the source tables (relative
    * path + length + mtime of every file — the same key discipline
    * the parquet memo uses), so a regenerated corpus under the same
    * path forces a rebuild instead of silently serving a stale layer
    * (a bare existence sentinel could). A wrong layer still cannot
    * hide — every serve hash-checks against its full oracle replay —
    * but the fingerprint turns that false-failure mode into a
    * rebuild.
    *
    * CONCURRENCY: the check-and-build is serialized per layer path —
    * a per-base monitor covers threads in this JVM, and an OS file
    * lock on `base.lock` (held across the re-check + build) covers
    * two PROCESSES sharing a scratch root, so concurrent suites
    * cannot interleave delete/build/sentinel writes. The lock file
    * lives NEXT TO base (the rebuild deletes base itself). Readers
    * mid-serve during another process's rebuild are not protected —
    * the sentinel protocol guards builds, and every serve hash-checks
    * against its oracle replay anyway. */
  private val layerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Run `body` while holding a per-path JVM monitor AND an OS file
    * lock on `<canonical base>.lock` — the standing-layer build
    * protocol, shared by any serve that rebuilds a path under a
    * scratch root two suites can share (standing layers, the slabbed
    * Jaccard scratch dir). `base` is canonicalized first so two
    * spellings of one path (relative vs absolute, trailing slash)
    * share a monitor — a second FileChannel.lock() on one underlying
    * file in one JVM would throw OverlappingFileLockException
    * instead of blocking. The lock file lives NEXT TO base (builds
    * delete base itself). */
  private def withPathLock[T](base: String)(body: => T): T = {
    val canon = new java.io.File(base).getCanonicalPath
    val mon = layerLocks.computeIfAbsent(canon, _ => new Object)
    mon.synchronized {
      val lockFile = new java.io.File(s"$canon.lock")
      Option(lockFile.getParentFile).foreach(_.mkdirs())
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lk = ch.lock() // blocks on a concurrent process's build
        try body finally lk.release()
      } finally ch.close()
    }
  }

  private def standingLayer(s: SparkSession, base: String,
                            srcPaths: Seq[String],
                            layout: String)(build: => Unit): Unit = {
    val memo = graft.cache.Memo(s, memoRoot(s))
    val want = memo.keyOf(layout +: srcPaths.map(memo.fingerprint))
    def isReady: Boolean = {
      val ready = new java.io.File(s"$base/_READY")
      ready.exists() && new String(
        java.nio.file.Files.readAllBytes(ready.toPath), "UTF-8")
        .trim == want
    }
    if (isReady) return // fast path: no lock traffic on warm serves
    withPathLock(base) {
      if (!isReady) { // re-check under the lock: loser serves
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
        build
        new java.io.File(base).mkdirs()
        java.nio.file.Files.write(
          new java.io.File(s"$base/_READY").toPath,
          want.getBytes("UTF-8"))
      }
    }
  }

  /** The per-corpus scratch path `<Scratch.root>/<name>_<dir>`, with
    * every non-alphanumeric character of `dir` mapped to `_`. */
  private def scratchPath(name: String, dir: String): String =
    s"${graft.Scratch.root}/${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** [[scratchPath]], emptied first: a query rebuilding its layer from
    * scratch on every run. */
  private def freshScratch(name: String, dir: String): String = {
    val path = scratchPath(name, dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    path
  }

  /** A [[freshScratch]] layer holding the corpus `(doc_id, text)` as
    * `nBatches` modulo ingest batches, published in one corpus pass
    * (same dirs and rows as one filtered write per batch — the
    * partition column IS the batch id), clustered so each batch
    * writes one right-sized file instead of one per scan task. */
  private def moduloLayer(docs: DataFrame, name: String, dir: String,
                          nBatches: Int): String = {
    val base = freshScratch(name, dir)
    graft.Writes.clusterByPartitions(
        docs.select(col("doc_id"), col("text"),
          (col("doc_id") % nBatches).as("ingest_batch")), "ingest_batch")
      .write.partitionBy("ingest_batch").parquet(base)
    base
  }

  /** A layer read-back as (doc_id, ingest_batch, n_chars) by doc. */
  private def layerResidency(layer: DataFrame): DataFrame =
    layer.select(col("doc_id"),
        col("ingest_batch").cast("long").as("ingest_batch"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** The curation chain over a corpus: quality gate -> corpus-wide
    * repeated-passage removal -> exact dedup of the cleaned text, as
    * `(doc_id, text_clean)`. Cheap narrow filters run first, the two
    * shuffling dedups on the survivors only. */
  private def curationChain(docs: DataFrame): DataFrame = {
    val quality = TextAnalysis.qualityFeatures(docs)
      .filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.05)
      .select(col("doc_id"), col("text"))
    val cleaned = Dedup.chunkDedup(quality, chunkTokens = 20, maxFreq = 1)
      .filter(length(col("text_clean")) > 0)
      .select(col("doc_id"), col("text_clean"))
    Dedup.exactDedup(cleaned, textCol = "text_clean", idCol = "doc_id")
      .select(col("doc_id"), col("text_clean"))
  }

  /** Each doc's first `nTokens` tokens as a lexical query:
    * `(query_id, text)`. */
  private def prefixQueries(docs: DataFrame, nTokens: Int): DataFrame =
    docs.select(col("doc_id").as("query_id"),
      array_join(slice(TextAnalysis.tokens(col("text")), 1, nTokens), " ")
        .as("text"))

  /** Every 100th vector as a query: `(query_id, query_vec)`. */
  private def queryVecs(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))

  /** The 12 closed-form 18 x 16 rasters, each as a PNG (id m) and a
    * pixel-identical BMP re-encode (id m + 100): different container
    * bytes, the same decoded raster. */
  private def pngBmpTwins(s: SparkSession): DataFrame = {
    def img(m: Int) = raster(18, 16)(rasterRgb(m))
    blobFrame(s, "image",
      (1 to 12).map(m => (m.toLong, encode(img(m), "png"))) ++
        (1 to 12).map(m => (m.toLong + 100, encode(img(m), "bmp"))))
  }

  private def components035(s: SparkSession, dir: String): DataFrame =
    componentsMemo.computeIfAbsent((s, dir), _ => {
      val memo = graft.cache.Memo(s, memoRoot(s))
      // the pair kernels hash under the configured family, so the
      // md5 (oracle) and xx (production) artifacts must not alias
      val fam =
        if (graft.functions.SketchOps.xxFamily()) "xx" else "md5"
      val key = memo.keyOf(Seq("components035", "v1", fam,
        memo.fingerprint(s"$dir/documents.parquet")))
      memo.lookup(key).getOrElse {
        val handle = Dedup.minHashPairsManaged(
          table(s, dir, "documents"), threshold = 0.35)
        try memo.store(key, Dedup.connectedComponents(handle.value))
        finally handle.close()
      }
    })

  // The bigram-LM scoring is the same kind of corpus-version
  // artifact: score once (self-trained, alpha=0.5), keep the narrow
  // (doc_id, n_bigrams, avg_logprob) table in the Parquet memo, and
  // let the raw-score, tier and head/tail-filter queries all scan it.
  // Deployment shape = this IS the score table persisted next to the
  // corpus snapshot (TextAnalysis.pplBucketsScored / ccnetFilterScored
  // consume it). Family-independent (pure text math — no sketch
  // kernels), so verify and bench share one artifact.
  private val lmScoreMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      DataFrame]

  private def lmScore05(s: SparkSession, dir: String): DataFrame =
    lmScoreMemo.computeIfAbsent((s, dir), _ => {
      val memo = graft.cache.Memo(s, memoRoot(s))
      val key = memo.keyOf(Seq("lmScore05", "v1", "alpha=0.5",
        memo.fingerprint(s"$dir/documents.parquet")))
      memo.getOrElseUpdate(key) {
        val docs = table(s, dir, "documents")
        TextAnalysis.bigramLmScore(docs, docs, alpha = 0.5)
      }
    })

  /** Drop the corpus-version artifacts derived from `dir` (all
    * sessions) — [[Star.invalidate]] cascades here so an in-process
    * rewrite of a corpus path can't serve stale components/LM scores. */
  private[queries] def invalidate(dir: String): Unit = {
    componentsMemo.keySet.removeIf(_._2 == dir)
    lmScoreMemo.keySet.removeIf(_._2 == dir)
  }

  /** Drop every memoized corpus artifact — test hook, mirrors
    * [[graft.llm.Similarity.clearTrainedCache]]. */
  def clearMemos(): Unit = { componentsMemo.clear(); lmScoreMemo.clear() }

  /** Every query of this module, each declared once with its DuckDB
    * oracle next to its build. */
  lazy val inventory: QueryTable = QueryTable(
    // exact dedup groups: representative + multiplicity per content.
    Query("llm_exact_dedup", (s, dir) =>
      Dedup.exactGroups(table(s, dir, "documents"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id")),
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keep_id"""),

    // duplicate-aware training weights: weight = 1/n_copies per doc
    // (down-weight repeats instead of dropping - unit mass per
    // distinct content in the training mix).
    // dup weights: group by VALUE (the engine's 64-bit hash is an
    // internal key; same-value grouping is the same partition).
    Query("llm_dup_weights", (s, dir) =>
      Dedup.dupWeights(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      """WITH g AS (SELECT text, COUNT(*) AS n_copies
                    FROM documents GROUP BY text)
         SELECT d.doc_id, g.n_copies,
           round(1.0 / CAST(g.n_copies AS DOUBLE), 6) AS weight
         FROM documents d JOIN g USING (text)
         ORDER BY d.doc_id"""),

    // exact n-gram Jaccard near-dup pairs (brute-force ground truth).
    Query("llm_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairsBrute(table(s, dir, "documents"), n = 3,
          threshold = 0.2)
        .orderBy(col("id_a"), col("id_b")),
      jaccardBruteOracle(threshold = 0.2)),

    // EXACT pairs via prefix filtering (AllPairs/SSJoin): equi-join
    // on rarest-first prefix shingles + size bounds + exact verify —
    // brute-identical answers with no cross join anywhere (PlanSpec
    // gate; LlmSpec equality vs brute). Registered at t=0.5, the
    // regime where the filter prunes (prefix ≈ half the doc).
    // prefix-filtered exact join: same answer as the brute oracle —
    // prefix filtering changes the PLAN, not the result set.
    Query("llm_jaccard_prefix", (s, dir) =>
      Dedup.jaccardPairsPrefix(table(s, dir, "documents"), n = 3,
          threshold = 0.5)
        .orderBy(col("id_a"), col("id_b")),
      jaccardBruteOracle(threshold = 0.5)),

    // the OUT-OF-CORE slab form of the prefix join: same exact
    // answer (same lemma, same verify arithmetic), pipeline broken
    // into bounded shingle-hash slabs with zero heap persist — the
    // single-node path past the measured 64x salted heap cliff.
    // EAGER (the slab loop runs at construction); oracle identical
    // to llm_jaccard_prefix by contract. The serve holds the
    // standing-layer path lock across the rebuild (two suites can
    // share a scratch root) and localCheckpoints the bounded result
    // BEFORE releasing it, detaching the returned frame from the
    // scratch files a later serve overwrites.
    // slab mode changes the execution layout, not the result set:
    // the oracle is the same brute arithmetic at t=0.5.
    Query("llm_jaccard_slabbed", (s, dir) => {
      val scratch = graft.Scratch.root + "/jslab_q"
      withPathLock(scratch) {
        // the checkpoint blocks are a pin like any other: tracked so
        // Pins.release reclaims them (consume-before-release contract)
        graft.cache.Pins.trackLocalCheckpoint(
          Dedup.jaccardPairsPrefixSlabbed(table(s, dir, "documents"),
              n = 3, threshold = 0.5, slabs = 2, scratchDir = scratch)
            .orderBy(col("id_a"), col("id_b"))
            .localCheckpoint(true))
      }
    },
      jaccardBruteOracle(threshold = 0.5)),

    // MinHash+LSH near-dup pairs — the scale path. MD5-oracle-verified
    // under Verify's hash family; recall vs brute force in LlmSpec.
    Query("llm_minhash_pairs", (s, dir) =>
      Dedup.minHashPairs(table(s, dir, "documents"), threshold = 0.35)
        .orderBy(col("id_a"), col("id_b")),
      minhashPairsOracle),

    // two-stage verified near-dup: LSH candidates confirmed by exact
    // thresholded edit distance — candidate/verify, the legal-grade
    // dedup shape; text joins in for the candidate set only.
    Query("llm_verified_pairs", (s, dir) =>
      Dedup.verifiedNearDupPairs(table(s, dir, "documents"),
          tau = 0.8, estThreshold = 0.35)
        .orderBy(col("id_a"), col("id_b")),
      verifiedPairsOracle),

    // SimHash near-dup pairs, MD5-oracle-verified (maxDist 3 is the
    // regime the 4x16-bit band join covers completely by pigeonhole).
    Query("llm_simhash_pairs", (s, dir) =>
      Dedup.simHashPairs(table(s, dir, "documents"), maxDist = 3)
        .orderBy(col("id_a"), col("id_b")),
      simhashPairsOracle),

    // near-dup clusters: LSH pairs -> connected components, verified
    // against a WITH RECURSIVE transitive-closure oracle;
    // planted-cluster semantics additionally asserted in LlmSpec.
    Query("llm_dedup_clusters", (s, dir) =>
      components035(s, dir).orderBy(col("id")),
      dedupClustersOracle),

    // the DISTRIBUTED components strategy on the same real pair set:
    // driverThreshold = 0 forces hash-min label propagation (the path
    // a 100 TB edge set takes — every other oracle row's edge count
    // stays under the driver-union-find threshold at sf0.01), replayed
    // against the SAME recursive-closure oracle, so both strategies
    // are hash-proven equal on real data, not a toy graph.
    Query("llm_dedup_clusters_dist", (s, dir) => {
      val handle = Dedup.minHashPairsManaged(
        table(s, dir, "documents"), threshold = 0.35)
      try Dedup.connectedComponents(handle.value, driverThreshold = 0L)
        .orderBy(col("id"))
      finally handle.close()
    },
      dedupClustersOracle),

    // quality-aware cluster representatives: same clusters as
    // llm_dedup_clusters, winner = longest member (token count,
    // ties to lowest id) — RefinedWeb's "keep the best copy".
    Query("llm_cluster_best", (s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.bestPerCluster(components035(s, dir),
          docs.select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long")
              .as("n_tok")),
          qualityCol = "n_tok")
        .orderBy(col("component"))
    },
      clusterBestOracle),

    // incremental ingest dedup: cross-side LSH pairs between a mock
    // new batch (doc_id % 10 = 0) and the standing corpus — no
    // within-side pairs. MD5-oracle-verified under Verify's family.
    Query("llm_incremental_pairs", (s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.minHashPairsAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0), threshold = 0.35)
        .orderBy(col("id_new"), col("id_corpus"))
    },
      incrementalPairsOracle),

    // end-to-end near-dup dedup: LSH pairs -> components -> keep the
    // min-id representative per cluster; returns the surviving doc ids
    // (oracle replays the clustering with a recursive CTE).
    Query("llm_neardup_dedup", (s, dir) =>
      Dedup.keepRepresentatives(table(s, dir, "documents"),
          components035(s, dir))
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
      nearDupDedupOracle),

    // end-to-end VERIFIED dedup: candidates -> edit-distance confirm
    // -> components over verified edges only -> min-id survivors (the
    // llm_neardup_dedup chain with the verification stage inserted -
    // unverified candidates cannot glue clusters together).
    Query("llm_verified_dedup", (s, dir) => {
      val docs = table(s, dir, "documents")
      val vp = Dedup.verifiedNearDupPairs(docs, tau = 0.8,
          estThreshold = 0.35)
        .filter(col("verified"))
        .select(col("id_a"), col("id_b"))
      Dedup.keepRepresentatives(docs, Dedup.connectedComponents(vp))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      verifiedDedupOracle),

    // the FIX for the split-leakage audit below: every doc inherits
    // its near-dup component's split (hash of the min-id
    // representative), so no near-dup pair can straddle train/eval
    // by construction; singletons split on their own id.
    Query("llm_cluster_split", (s, dir) =>
      Sampling.leakageFreeSplit(table(s, dir, "documents"),
          components035(s, dir))
        .orderBy(col("doc_id")),
      clusterSplitOracle),

    // split-leakage audit: VERIFIED near-dup pairs whose members land
    // in different content-hash splits - exact dups hash identically
    // (cannot leak by construction), but near-dups draw independent
    // hashes and cross the train/val/test boundary; this is the
    // pre-training leakage check over the llm_split assignment.
    Query("llm_split_leakage", (s, dir) => {
      val docs = table(s, dir, "documents")
      val sp = docs.select(col("doc_id"),
        Sampling.splitColumn(col("text"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
      Dedup.verifiedNearDupPairs(docs, tau = 0.8, estThreshold = 0.35)
        .filter(col("verified"))
        .join(sp.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(sp.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"),
          col("split_b"), col("edit_sim"))
        .orderBy(col("id_a"), col("id_b"))
    },
      splitLeakageOracle),

    // near-dup-aware soft weights: 1/|verified cluster| per doc (the
    // dup_weights idea over VERIFIED near-dup components - sketch
    // false positives cannot down-weight distinct content).
    Query("llm_neardup_weights", (s, dir) => {
      val docs = table(s, dir, "documents")
      val vp = Dedup.verifiedNearDupPairs(docs, tau = 0.8,
          estThreshold = 0.35)
        .filter(col("verified"))
        .select(col("id_a"), col("id_b"))
      Dedup.nearDupWeights(docs, vp).orderBy(col("doc_id"))
    },
      nearDupWeightsOracle),

    // embedding-cosine near-dup pairs (brute-force ground truth).
    Query("llm_embedding_pairs", (s, dir) =>
      Dedup.embeddingPairsBrute(table(s, dir, "embeddings"),
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b")),
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosineSql AS cosine
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id AND $cosineSql >= 0.4
         ORDER BY id_a, id_b"""),

    // hyperplane-LSH bucketed cosine pairs — scale path, verified
    // against an oracle replaying the seeded planes as literals
    // (recall 0.97 measured). Config PINNED at 16x4 so the oracle's
    // plane literals match; production callers omit the config and get
    // the corpus-size-derived auto-tune (Similarity.lshAutoConfig).
    Query("llm_lsh_cosine_pairs", (s, dir) =>
      Similarity.lshCosinePairs(table(s, dir, "embeddings"),
          threshold = 0.4, nTables = 16, planesPerTable = 4)
        .orderBy(col("id_a"), col("id_b")),
      lshCosineOracle(nTables = 16, ppt = 4)),

    // L2 normalization (unit vectors make cosine a plain dot): per
    // vector, the original norm and the first normalized component —
    // enough to pin the whole transform bit-for-bit in the oracle.
    Query("llm_normalize", (s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          round(sqrt(VectorOps.normSq(col("embedding"))), 6).as("norm"),
          round(element_at(VectorOps.l2Normalize(col("embedding")), 1), 6)
            .as("first_dim"))
        .orderBy(col("vec_id")),
      """SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm,
           round(CASE WHEN sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
             THEN CAST(embedding[1] AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             ELSE CAST(embedding[1] AS DOUBLE) END, 6) AS first_dim
         FROM embeddings ORDER BY vec_id"""),

    // exact cosine top-k: every 100th vector queries the corpus.
    Query("llm_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      Similarity.bruteTopK(emb, queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      bruteTopKOracle(k = 10)),

    // margin-based bitext mining (ratio margin): label-0 vs label-1
    // slices as the two "languages"; forward top-1 per left vector
    // by cosine over neighborhood density, mined verdict.
    // bitext-margin replay: same cosine arithmetic, decimal-exact
    // k-NN averages, fixed division order, forward top-1 by margin.
    Query("llm_bitext_mine", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.bitextMine(
          emb.filter(col("label") === 0),
          emb.filter(col("label") === 1), k = 4, minMargin = 1.0)
        .orderBy(col("id_a"))
    },
      s"""WITH $bitextMarginCtes,
         sel AS (
           SELECT id_a, id_b, cosine, margin,
             ROW_NUMBER() OVER (PARTITION BY id_a
               ORDER BY margin DESC, id_b ASC) AS rn
           FROM mg)
       SELECT id_a, id_b, cosine, margin, margin >= 1.0 AS mined
       FROM sel WHERE rn = 1 ORDER BY id_a"""),

    // mutual-best bitext mining: forward AND backward top-1 (the
    // intersect strategy - near-zero false pairs at lower recall).
    // mutual strategy: the same margin table, mined only when the
    // pair is forward AND backward top-1 (the intersect handshake).
    Query("llm_bitext_mutual", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.bitextMineMutual(
          emb.filter(col("label") === 0),
          emb.filter(col("label") === 1), k = 4, minMargin = 1.0)
        .orderBy(col("id_a"))
    },
      s"""WITH $bitextMarginCtes,
         sel AS (
           SELECT id_a, id_b, cosine, margin,
             ROW_NUMBER() OVER (PARTITION BY id_a
               ORDER BY margin DESC, id_b ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY id_b
               ORDER BY margin DESC, id_a ASC) AS rb
           FROM mg)
       SELECT id_a, id_b, cosine, margin
       FROM sel WHERE rf = 1 AND rb = 1 AND margin >= 1.0
       ORDER BY id_a"""),

    // per-label topic mix: k-means cells as topics, (label, cell)
    // counts + label shares - the corpus-composition diagnostic a
    // mixture-balancing stage reads before setting sampling rates.
    Query("llm_topic_mix", (s, dir) =>
      Similarity.topicMix(table(s, dir, "embeddings"), nCells = 16,
          iters = 2)
        .orderBy(col("label"), col("cell_id")),
      topicMixOracle(iters = 2)),

    // JL-accelerated top-k: candidates in the 16-dim projected space
    // (4x cheaper dots), exact rerank of the top-50 survivors on the
    // full vectors — the projection's scale path, hash-verified
    // end-to-end.
    // JL top-k replay: the rand_proj matrix via a k-join (no nested
    // lambdas — the llm_winnow capture-bug rule), ordered list() to
    // 16-dim vectors, projected cosine cut at 50, exact-cosine
    // rerank to 10 (the llm_topk tie rule at both stages).
    Query("llm_jl_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = queryVecs(emb)
      Similarity.jlTopKRerank(emb, q, k = 10, outDim = 16,
          rerank = 50)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH prj AS (
           SELECT e.vec_id, ks.k,
             list_sum(list_transform(
               generate_series(1, len(e.embedding)),
               j -> CAST(e.embedding[j] AS DOUBLE) *
                 (CASE WHEN substring(md5('jl:' ||
                     CAST(ks.k AS VARCHAR) || ':' ||
                     CAST(j - 1 AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
                   THEN 1.0 ELSE -1.0 END)))
               * (1.0 / sqrt(16.0)) AS p
           FROM embeddings e
           CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k) ks),
         pvec AS (
           SELECT vec_id, list(p ORDER BY k) AS pv
           FROM prj GROUP BY vec_id),
         qs AS (
           SELECT vec_id AS query_id, pv AS qv FROM pvec
           WHERE vec_id % 100 = 0),
         cscore AS (
           SELECT q.query_id, c.vec_id,
             round(list_sum(list_transform(list_zip(c.pv, q.qv),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(c.pv, x -> x * x)))
                * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
               6) AS cosp
           FROM pvec c CROSS JOIN qs q),
         cand AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cosp DESC, vec_id ASC)
               AS rn
             FROM cscore) WHERE rn <= 50),
         ex AS (
           SELECT c.query_id, c.vec_id, $cosineSql AS cosine
           FROM cand c
           JOIN embeddings a ON a.vec_id = c.vec_id
           JOIN embeddings b ON b.vec_id = c.query_id)
         SELECT query_id, rank, vec_id, cosine FROM (
           SELECT query_id, vec_id, cosine, ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, vec_id ASC) AS rank
           FROM ex) WHERE rank <= 10
         ORDER BY query_id, rank"""),

    // JL random sign projection to 8 dims (long form): the row-local
    // pre-projection that cuts downstream ANN scan cost 8x; matrix
    // from md5(seed:k:j) nibbles so both engines build it identically.
    // JL projection replay: the md5-nibble sign matrix inline in a
    // dimension-ordered list_sum fold, same 1/sqrt(d') constant.
    Query("llm_rand_proj", (s, dir) =>
      Similarity.randProject(table(s, dir, "embeddings"), outDim = 8)
        .orderBy(col("vec_id"), col("k")),
      """SELECT e.vec_id, CAST(ks.k AS BIGINT) AS k,
           round(list_sum(list_transform(
             generate_series(1, len(e.embedding)),
             j -> CAST(e.embedding[j] AS DOUBLE) *
               (CASE WHEN substring(md5('jl:' || CAST(ks.k AS VARCHAR)
                   || ':' || CAST(j - 1 AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3','4','5','6','7')
                 THEN 1.0 ELSE -1.0 END)))
             * (1.0 / sqrt(8.0)), 6) AS p
         FROM embeddings e
         CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks
         ORDER BY e.vec_id, k"""),

    // label<->topic mutual information over the shared k-means
    // cells: per-label MI contribution (corpus MI = column sum) —
    // the stratify-or-not diagnostic before mixture balancing.
    Query("llm_source_topic_mi", (s, dir) =>
      Similarity.sourceTopicMi(table(s, dir, "embeddings"),
          nCells = 16, iters = 2)
        .orderBy(col("label")),
      sourceTopicMiOracle(iters = 2)),

    // prototype-hardness pruning: keep the hardest half of every
    // k-means cell (distance to own prototype = difficulty; the
    // SSL-prototypes data-pruning rule). Same train-once Lloyd
    // centroids as llm_topic_mix / llm_embed_outliers.
    Query("llm_proto_prune", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.protoPrune(emb,
          Similarity.kmeansCentroids(emb, nCells = 16, iters = 2),
          keepFrac = 0.5)
        .orderBy(col("vec_id"))
    },
      protoPruneOracle(iters = 2, keepFrac = 0.5)),

    // the 100 TB form of proto_prune: per-cell approx-quantile cut
    // instead of the exact rank window, with a within_band verdict
    // against the exact keep target (each engine checks its OWN
    // quantile sketch — the llm_len_approx device).
    Query("llm_proto_prune_approx", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.protoPruneApprox(emb,
          Similarity.kmeansCentroids(emb, nCells = 16, iters = 2),
          keepFrac = 0.5, tolFrac = 0.1)
        .orderBy(col("cell_id"))
    },
      protoPruneApproxOracle(iters = 2, keepFrac = 0.5, tolFrac = 0.1)),

    // incremental k-means refresh: one decimal-exact Lloyd round
    // from the trained centroids over the odd-id "new batch" —
    // quiet cells keep their old centroid (an index must never lose
    // a cell to a quiet batch). Emitted as (cell, dim, value) rows.
    Query("llm_kmeans_update", (s, dir) => {
      import s.implicits._
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      val upd = Similarity.kmeansUpdate(
        emb.filter(col("vec_id") % 2 === 1), cents)
      upd.zipWithIndex.flatMap { case (vec, c) =>
        vec.zipWithIndex.map { case (m, d) =>
          (c.toLong, d.toLong,
            BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }
      }.toDF("cell", "d", "m").orderBy(col("cell"), col("d"))
    },
      kmeansUpdateOracle(iters = 2)),

    // reindex-cost estimate for the refresh above: the migration
    // matrix between the trained and the batch-updated centroid
    // sets, ONE scan with both assignments as codegen'd projections.
    Query("llm_cell_migration", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      Similarity.cellMigration(emb, cents,
          Similarity.kmeansUpdate(
            emb.filter(col("vec_id") % 2 === 1), cents))
        .orderBy(col("cell_from"), col("cell_to"))
    },
      cellMigrationOracle(iters = 2)),

    // the apply step of the refresh trilogy: build the IVF index on
    // the trained centroids, PATCH it in place to the batch-updated
    // set (only migrated partitions rewritten), then serve top-k
    // from the patched layout — the hash match against a pure-SQL
    // recompute proves the patched index is indistinguishable from
    // a full rebuild (the q36 round-trip device for index
    // maintenance).
    Query("llm_ivf_patch", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      val newC = Similarity.kmeansUpdate(
        emb.filter(col("vec_id") % 2 === 1), cents)
      val idxDir = freshScratch("ivfpatch", dir)
      Similarity.ivfWriteIndex(emb, cents, idxDir)
      Similarity.ivfPatchIndex(s, idxDir, newC)
      val q = queryVecs(emb)
      Similarity.ivfTopKIndexedAuto(s, idxDir, q, k = 10,
          nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      ivfPatchOracle(iters = 2)),

    // takedown over the STANDING IVF index: write the k-means-trained
    // layout, remove vec_id % 9 = 4 in place (only their cell
    // partitions rewritten, centroid sidecar untouched — dropping
    // rows moves no cells), then serve top-k from the patched layout.
    // The oracle trains the SAME centroids but scores only the
    // remaining vectors: patched serving == rebuild over
    // corpus MINUS ids. Queries come from the unfiltered embeddings
    // table, so a taken-down vector may still ASK and must simply
    // never be RETURNED.
    // same trained centroids (takedown never retrains), scored side
    // restricted to the surviving vectors: the patched index must
    // serve exactly the rebuild-over-survivors ranking.
    Query("llm_takedown_ivf", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      val idxDir = freshScratch("takedown_ivf", dir)
      Similarity.ivfWriteIndex(emb, cents, idxDir)
      Takedown.ivfTakedown(s, idxDir,
        emb.filter(col("vec_id") % 9 === 4).select("vec_id"))
      val q = queryVecs(emb)
      Similarity.ivfTopKIndexedAuto(s, idxDir, q, k = 10,
          nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      kmeansIvfOracle(iters = 2, corpusWhere = "a.vec_id % 9 <> 4")),

    // LSM-style index ingest: the EVEN half of the corpus is the
    // built index, the ODD half arrives later as an appended `_delta`
    // batch (assigned under the sidecar centroids, main partitions
    // untouched); serving main ∪ delta hash-matches the SAME oracle
    // as llm_ivf_kmeans_topk — an appended index is indistinguishable
    // from an index built over the whole corpus at once.
    // built-on-even + appended-odd serves the whole corpus: the SAME
    // oracle as llm_ivf_kmeans_topk (the shared-oracle equivalence
    // device — append proven invisible).
    Query("llm_ivf_append", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      val idxDir = freshScratch("ivf_append", dir)
      Similarity.ivfWriteIndex(
        emb.filter(col("vec_id") % 2 === 0), cents, idxDir)
      Similarity.ivfAppendBatch(s, idxDir,
        emb.filter(col("vec_id") % 2 =!= 0), batchId = 0L)
      val q = queryVecs(emb)
      Similarity.ivfTopKIndexedAuto(s, idxDir, q, k = 10,
          nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      kmeansIvfOracle(iters = 2)),

    // FILTERED vector search: the index written WITH an attribute
    // column (grp = vec_id % 5), then top-k restricted to grp = 2 by
    // a predicate pushed into the probed-cell parquet scan (the
    // faceted-RAG / access-control retrieval shape — no join back to
    // the corpus). Oracle scores the same trained cells with the
    // same WHERE; the plan gate (PlanSpec) asserts the predicate
    // lands in PushedFilters, not a post-join Filter.
    // filtered search scores only the candidates matching the stored
    // attribute predicate — same cells, same exact cosines, WHERE on
    // the scored side.
    Query("llm_ann_filtered", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      val idxDir = freshScratch("ann_filtered", dir)
      Similarity.ivfWriteIndex(
        emb.withColumn("grp", col("vec_id") % 5), cents, idxDir,
        attrCols = Seq("grp"))
      val q = queryVecs(emb)
      Similarity.ivfTopKIndexedWhere(s, idxDir, q, k = 10,
          predicate = col("grp") === 2, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      kmeansIvfOracle(iters = 2, corpusWhere = "a.vec_id % 5 = 2")),

    // embedding contamination: held-out eval slice (vec_id % 50 = 0)
    // vs the disjoint train corpus - nearest-neighbor cosine + verdict
    // (the paraphrase-leakage complement of n-gram decontamination).
    // contamination replay: same cosine arithmetic + tie rule as the
    // llm_topk oracle, exclusive sides, top-1 + verdict.
    Query("llm_embed_contamination", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.embedContamination(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0), tau = 0.4)
        .orderBy(col("eval_id"))
    },
      s"""WITH scored AS (
           SELECT b.vec_id AS eval_id, a.vec_id AS nearest_id,
             $cosineSql AS cosine
           FROM embeddings a, embeddings b
           WHERE b.vec_id % 50 = 0 AND a.vec_id % 50 <> 0),
         best AS (
           SELECT eval_id, nearest_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY eval_id
               ORDER BY cosine DESC, nearest_id ASC) AS rn
           FROM scored)
         SELECT eval_id, nearest_id, cosine AS max_cosine,
           (cosine >= 0.4) AS contaminated
         FROM best WHERE rn = 1 ORDER BY eval_id"""),

    // IVF cell-probed approximate top-k, oracle-verified (probe and
    // assignment replayed in SQL); recall vs exact top-k in LlmSpec.
    Query("llm_ivf_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      Similarity.ivfTopK(emb, queries, k = 10, nCells = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      ivfOracle),

    // IVF with a Lloyd-refined (k-means) centroid set: 2 distributed
    // refinement rounds with decimal-exact means, then cell-probed
    // top-k. Oracle replays both rounds (seed -> assign -> mean)
    // bit-for-bit.
    Query("llm_ivf_kmeans_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      val cents = Similarity.kmeansCentroids(emb, nCells = 16, iters = 2)
      Similarity.ivfTopKWith(cents, emb, queries, k = 10, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      kmeansIvfOracle(iters = 2)),

    // contrastive hard-negative mining at the SCALE shape: per query,
    // the top-5 most-similar vectors from a DIFFERENT source, mined
    // through the probed-IVF candidate path with the mismatch filter
    // ahead of the rank window (llm_hard_negatives is the brute
    // labeled twin).
    Query("llm_hard_negatives_ivf", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val corpus = emb.join(
        table(s, dir, "documents")
          .select(col("doc_id").as("vec_id"), col("source")),
        Seq("vec_id"))
      val cents = Similarity.kmeansCentroids(emb, nCells = 16,
        iters = 2)
      Similarity.hardNegativesIvf(cents, corpus,
          corpus.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("query_vec"), col("source")),
          k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      hardNegativesOracle),

    // MMR diversified retrieval: top-20 cosine candidates per query,
    // greedy maximal-marginal-relevance selection of 5 (lambda 0.7)
    // — the greedy trajectory replays in a recursive-CTE oracle.
    Query("llm_mmr_rerank", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      Similarity.mmrRerank(emb, queries, k = 5, nCandidates = 20,
          lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    },
      mmrOracle(k = 5, n = 20, lambda = 0.7)),

    // embedding-space outliers: per-cell z-scored distance to the
    // shared k-means centroids (same memoized 16x2 model as
    // llm_ivf_kmeans_topk — training cost paid once per corpus).
    Query("llm_embed_outliers", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.embedOutliers(emb,
          Similarity.kmeansCentroids(emb, nCells = 16, iters = 2),
          zThreshold = 2.0)
        .orderBy(col("vec_id"))
    },
      embedOutliersOracle(iters = 2, z = 2.0)),

    // Product quantization ADC top-k: 4 subspaces x 16 codes trained
    // by the same decimal-exact Lloyd chain; queries broadcast a
    // (sub, code) dot-product LUT and the corpus contributes codes
    // only (the 100 TB memory-bound ANN path).
    Query("llm_pq_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      Similarity.pqTopKTrained(emb, queries, k = 10, m = 4,
          nCodes = 16, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      pqOracle(m = 4, kk = 16, iters = 2, sub = 16,
      k = 10)),

    // PQ candidates + exact re-rank (the deployment shape: the full
    // vector table is only read for rerank x Q candidate rows).
    Query("llm_pq_rerank", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
      Similarity.pqTopKRerank(emb, queries, books, k = 10, rerank = 100)
        .orderBy(col("query_id"), col("rank"))
    },
      pqRerankOracle(m = 4, kk = 16, iters = 2,
      sub = 16, k = 10, rerank = 100)),

    // PQ index maintenance: build the code table under books trained
    // on the FULL corpus, retrain on the odd half, PATCH the table in
    // place (only buckets with changed codes rewritten, commit-marker
    // swap), then serve ADC top-k from the patched files. The oracle
    // replays a FULL REBUILD under the refreshed books (training
    // restricted to odd vec_ids, encoding over everything) — the hash
    // match proves the patched table is indistinguishable from a
    // rebuild, the llm_ivf_patch device for the PQ artifact.
    Query("llm_pq_patch", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
      val newBooks = Similarity.pqCodebooks(
        emb.filter(col("vec_id") % 2 === 1), m = 4, k = 16, iters = 2)
      val idxDir = scratchPath("pqpatch", dir)
      Similarity.pqWriteIndex(emb, books, idxDir)
      Similarity.pqPatchIndexAuto(s, idxDir, emb, newBooks)
      val q = queryVecs(emb)
      Similarity.pqTopKIndexedAuto(s, idxDir, q, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      pqOracle(m = 4, kk = 16, iters = 2, sub = 16,
      k = 10, trainWhere = "WHERE vec_id % 2 = 1")),

    // takedown over the STANDING PQ code table: vec_id % 11 = 3
    // removed in place (only their id-hash buckets rewritten,
    // codebook sidecar untouched), then ADC serve — hash-matched
    // against the one-shot oracle restricted to survivors.
    // same books (takedown never retrains), scored side restricted
    // to the surviving codes.
    Query("llm_takedown_pq", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
      val idxDir = freshScratch("takedown_pq", dir)
      Similarity.pqWriteIndex(emb, books, idxDir)
      Takedown.pqTakedown(s, idxDir,
        emb.filter(col("vec_id") % 11 === 3).select("vec_id"))
      val q = queryVecs(emb)
      Similarity.pqTopKIndexedAuto(s, idxDir, q, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      pqOracle(m = 4, kk = 16, iters = 2, sub = 16,
      k = 10, corpusWhere = "vec_id % 11 <> 3")),

    // PQ delta-append: the code table built on the EVEN half, the
    // ODD half appended as a `_delta` batch encoded under the sidecar
    // books; ADC over main ∪ delta hash-matches llm_pq_topk's oracle
    // — the appended code table is indistinguishable from a one-shot
    // encode of the whole corpus.
    // built-on-even + appended-odd code table serves the whole
    // corpus: llm_pq_topk's oracle verbatim (append invisible).
    Query("llm_pq_append", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
      val idxDir = freshScratch("pq_append", dir)
      Similarity.pqWriteIndex(
        emb.filter(col("vec_id") % 2 === 0), books, idxDir)
      Similarity.pqAppendBatch(s, idxDir,
        emb.filter(col("vec_id") % 2 =!= 0), batchId = 0L)
      val q = queryVecs(emb)
      Similarity.pqTopKIndexedAuto(s, idxDir, q, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      pqOracle(m = 4, kk = 16, iters = 2, sub = 16,
      k = 10)),

    // SemDeDup: cluster-then-prune semantic dedup — nearest-cell
    // assignment (narrow kernel), within-cell lower-id dominance at
    // cosine >= 0.4. The kept set = one exemplar per cluster-local
    // duplicate group.
    Query("llm_semdedup", (s, dir) =>
      Similarity.semDedupKmeans(table(s, dir, "embeddings"),
          nCells = 16, iters = 2, tau = 0.4)
        .orderBy(col("vec_id")),
      semDedupOracle(iters = 2, tau = 0.4)),

    // per-language token statistics (integer-sum exact, then divide;
    // one text_stats kernel pass per row).
    Query("llm_token_stats", (s, dir) => {
      val st = TextAnalysis.textStats(col("text"))
      table(s, dir, "documents")
        .select(col("lang"), st.getField("n_tokens").as("n_tok"),
          st.getField("n_token_chars").as("n_tok_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          (sum(col("n_tok_chars")).cast("double") /
            sum(col("n_tok"))).as("avg_token_len"))
        .orderBy(col("lang"))
    },
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(list_sum(list_transform(toks, t -> length(t)))) AS DOUBLE)
             / SUM(len(toks)) AS avg_token_len
         FROM (SELECT lang,
                 list_filter(regexp_split_to_array(text, '\s+'),
                   t -> t <> '') AS toks
               FROM documents)
         GROUP BY lang ORDER BY lang"""),

    // BPE-ish subword-count estimate per language: alnum runs +
    // non-alnum non-whitespace codepoints (a cheap tokenizer-load
    // proxy; CJK text degrades to ~chars, which is the right order
    // for CJK tokenizers). n_punct comes from the one-pass text_stats
    // kernel.
    Query("llm_subword", (s, dir) => {
      val st = TextAnalysis.textStats(col("text"))
      table(s, dir, "documents")
        .select(col("lang"),
          (size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"),
            lit(0))).cast("long") + st.getField("n_punct"))
            .as("n_subwords"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_subwords")).as("total_subwords"))
        .orderBy(col("lang"))
    },
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
             + length(text)
             - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))
             AS BIGINT) AS total_subwords
         FROM documents GROUP BY lang ORDER BY lang"""),

    // intra-document repetition ratio (duplicate word 3-grams): the
    // repetitive-text quality gate, reported for every doc with >= 3
    // tokens.
    Query("llm_repetition", (s, dir) =>
      // HOFs are CodegenFallback (no CSE): project the two tokenize
      // passes ONCE (total count, distinct-shingle count) and derive
      // the filter + ratio from the projected columns
      table(s, dir, "documents")
        .select(col("doc_id"),
          (size(filter(split(col("text"), " "), t => t =!= "")) - 2)
            .cast("long").as("n_grams"),
          size(Dedup.wordShingles(col("text"), 3)).cast("long")
            .as("_n_distinct"))
        .filter(col("n_grams") >= 1)
        .select(col("doc_id"), col("n_grams"),
          round(lit(1.0) - col("_n_distinct").cast("double") /
            col("n_grams").cast("double"), 6).as("rep_ratio"))
        .orderBy(col("doc_id")),
      """WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents)
         SELECT doc_id,
           CAST(len(tk) - 2 AS BIGINT) AS n_grams,
           round(1.0 - len(list_distinct(list_transform(
               generate_series(1, len(tk) - 2),
               i -> array_to_string(tk[i:i+2], ' '))))
             / CAST(len(tk) - 2 AS DOUBLE), 6) AS rep_ratio
         FROM tk WHERE len(tk) >= 3 ORDER BY doc_id"""),

    // Gopher repetition signals: one native-kernel pass per doc, no
    // shuffle before the presentation sort. `kept` is the published
    // Gopher threshold gate on the rounded fractions.
    Query("llm_gopher", (s, dir) =>
      TextAnalysis.gopherRepetition(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      gopherOracle),

    // quality-gate ensemble: Gopher + length/punct + repetition
    // verdicts in ONE row-local pass, majority keep — the scorecard
    // a curation review reads when gates disagree.
    // ensemble: the proven gopher CTEs + the llm_quality punct/token
    // replay + the llm_repetition replay, folded to the majority rule.
    Query("llm_quality_ensemble", (s, dir) =>
      TextAnalysis.qualityEnsemble(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      raw"""WITH $gopherCtes,
         $qualityVoteCtes,
         v AS (
           SELECT d.doc_id, d.source, g.kept AS gopher_kept,
             (t.n_tok >= 20 AND
               (CASE WHEN t.n_chars > 0
                  THEN CAST(t.n_punct AS DOUBLE) / t.n_chars
                  ELSE 0.0 END) < 0.05) AS quality_ok,
             (rp.rep_ratio < 0.2) AS low_rep
           FROM documents d
           JOIN gfr g ON g.doc_id = d.doc_id
           JOIN tkq t ON t.doc_id = d.doc_id
           JOIN rp ON rp.doc_id = d.doc_id)
         SELECT doc_id, source, gopher_kept, quality_ok, low_rep,
           CAST(CAST(gopher_kept AS INT) + CAST(quality_ok AS INT)
             + CAST(low_rep AS INT) AS BIGINT) AS n_pass,
           (CAST(gopher_kept AS INT) + CAST(quality_ok AS INT)
             + CAST(low_rep AS INT)) >= 2 AS keep
         FROM v ORDER BY doc_id"""),

    // per-source quality pass rates with Wilson CIs — threshold
    // decisions compare interval bounds, not point rates.
    // quality CI: the ensemble verdict chain rolled to per-source
    // counts, then the Wilson interval in the engine's exact
    // operation order.
    Query("llm_quality_ci", (s, dir) =>
      TextAnalysis.qualityCi(table(s, dir, "documents"))
        .orderBy(col("source")),
      raw"""WITH $gopherCtes,
         $qualityVoteCtes,
         v AS (
           SELECT d.source,
             (CAST(g.kept AS INT) +
              CAST((t.n_tok >= 20 AND
                (CASE WHEN t.n_chars > 0
                   THEN CAST(t.n_punct AS DOUBLE) / t.n_chars
                   ELSE 0.0 END) < 0.05) AS INT) +
              CAST((rp.rep_ratio < 0.2) AS INT)) >= 2 AS keep
           FROM documents d
           JOIN gfr g ON g.doc_id = d.doc_id
           JOIN tkq t ON t.doc_id = d.doc_id
           JOIN rp ON rp.doc_id = d.doc_id),
         agg AS (
           SELECT source, count(*) AS n_docs,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep
           FROM v GROUP BY source)
         SELECT source, n_docs, n_keep,
           round(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS rate,
           round((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE)
               + (1.96*1.96) / (2.0 * CAST(n_docs AS DOUBLE)))
             / (1.0 + (1.96*1.96) / CAST(n_docs AS DOUBLE))
             - (1.96 * sqrt(
                 (CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
                 * (1.0 - CAST(n_keep AS DOUBLE)
                     / CAST(n_docs AS DOUBLE))
                 / CAST(n_docs AS DOUBLE)
                 + (1.96*1.96) / (4.0 * CAST(n_docs AS DOUBLE)
                     * CAST(n_docs AS DOUBLE))))
               / (1.0 + (1.96*1.96) / CAST(n_docs AS DOUBLE)), 6)
             AS ci_lo,
           round((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE)
               + (1.96*1.96) / (2.0 * CAST(n_docs AS DOUBLE)))
             / (1.0 + (1.96*1.96) / CAST(n_docs AS DOUBLE))
             + (1.96 * sqrt(
                 (CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
                 * (1.0 - CAST(n_keep AS DOUBLE)
                     / CAST(n_docs AS DOUBLE))
                 / CAST(n_docs AS DOUBLE)
                 + (1.96*1.96) / (4.0 * CAST(n_docs AS DOUBLE)
                     * CAST(n_docs AS DOUBLE))))
               / (1.0 + (1.96*1.96) / CAST(n_docs AS DOUBLE)), 6)
             AS ci_hi
         FROM agg ORDER BY source"""),

    // quality features + filter: the classic length/punct gate.
    Query("llm_quality", (s, dir) =>
      TextAnalysis.qualityFeatures(table(s, dir, "documents"))
        .filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.05)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / len(toks), 6) AS avg_token_len,
           round(CAST(length(text) - length(regexp_replace(text,
                   '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio
         FROM (SELECT doc_id, text,
                 list_filter(regexp_split_to_array(text, '\s+'),
                   t -> t <> '') AS toks
               FROM documents)
         WHERE len(toks) >= 20
           AND CAST(length(text) - length(regexp_replace(text,
                 '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text) < 0.05
         ORDER BY doc_id"""),

    // language ID by marker-word argmax, aggregated.
    Query("llm_langid", (s, dir) =>
      table(s, dir, "documents")
        .select(TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred")),
      raw"""WITH scored AS (
           SELECT tnull, ${langBestSql("toks")}
           FROM (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                   t -> t <> '') AS toks, text IS NULL AS tnull
                 FROM documents))
         SELECT CASE WHEN tnull THEN NULL
                     WHEN best.hits > 0 THEN best.lang
                     ELSE 'und' END AS lang_pred,
           COUNT(*) AS n
         FROM scored GROUP BY 1 ORDER BY lang_pred"""),

    // content fingerprints, MD5-oracle-verified under Verify's hash
    // family (production runs the XXH64 family; same plan).
    Query("llm_fingerprint", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      fingerprintOracle),

    // data mixing: assemble a training mix under per-language token
    // budgets — docs taken in content-hash order until each budget
    // fills; reported as per-language doc/token totals.
    Query("llm_token_budget", (s, dir) => {
      val mix = Mixing.tokenBudgetSample(table(s, dir, "documents"),
        Map("en" -> 20000L, "es" -> 5000L, "zh" -> 5000L))
      val nTok = TextAnalysis.textStats(col("text")).getField("n_tokens")
      mix.select(col("lang"), nTok.as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
        .orderBy(col("lang"))
    },
      """WITH t AS (
           SELECT lang, doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'),
               t -> t <> '')) AS n_tok,
             CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) AS h
           FROM documents),
         c AS (
           SELECT lang, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM t),
         b AS (SELECT * FROM (VALUES ('en', 20000), ('es', 5000),
               ('zh', 5000)) AS v(lang, budget))
         SELECT c.lang AS lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
         FROM c JOIN b ON c.lang = b.lang
         WHERE cum <= budget
         GROUP BY c.lang ORDER BY c.lang"""),

    // stratified best-of selection: top-5 docs per language by token
    // count (ties to lowest id).
    Query("llm_best_per_lang", (s, dir) =>
      Mixing.bestPerStratum(table(s, dir, "documents"), k = 5)
        .select(col("lang"), col("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank")),
      """SELECT lang, rank, doc_id FROM (
           SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> t <> '')) DESC, doc_id ASC) AS rank
           FROM documents)
         WHERE rank <= 5 ORDER BY lang, rank"""),

    // per-source composition report: docs, exact token totals, share
    // of corpus tokens — the pre-curation provenance table.
    Query("llm_source_stats", (s, dir) =>
      Mixing.sourceStats(table(s, dir, "documents"))
        .orderBy(col("source")),
      """SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_tok) AS DOUBLE)
             / SUM(SUM(n_tok)) OVER (), 6) AS token_share
         FROM (SELECT source,
                 len(list_filter(regexp_split_to_array(text, '\s+'),
                   t -> t <> '')) AS n_tok
               FROM documents)
         GROUP BY source ORDER BY source"""),

    // anti-domination cap: at most 15 docs per source, chosen in
    // content-hash order (deterministic uniform sample per stratum).
    Query("llm_source_cap", (s, dir) =>
      Mixing.capPerStratum(table(s, dir, "documents"), k = 15)
        .select(col("doc_id"), col("source"), col("keep_rank"))
        .orderBy(col("doc_id")),
      """SELECT doc_id, source, keep_rank FROM (
           SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
                 ASC NULLS LAST, doc_id ASC) AS keep_rank
           FROM documents)
         WHERE keep_rank <= 15 ORDER BY doc_id"""),

    // deterministic content-hash train/val/test split, counted per
    // (lang, split): reproducible across runs/clusters by
    // construction (pure function of the text).
    Query("llm_split", (s, dir) =>
      table(s, dir, "documents")
        .select(col("lang"),
          Sampling.splitColumn(col("text"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("split")),
      """SELECT lang,
           CASE WHEN h IS NULL THEN NULL
                WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n
         FROM (SELECT lang,
                 CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100
                   AS h
               FROM documents)
         GROUP BY 1, 2 ORDER BY lang, split"""),

    // cluster-balanced diversity sample: cap each k-means cell at 8
    // survivors chosen by content-hash order — dominant embedding
    // modes bounded, tail clusters kept whole.
    Query("llm_balanced_sample", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, nCells = 16, iters = 2)
      Sampling.clusterBalancedSample(emb, cents, perCell = 8)
        .orderBy(col("vec_id"))
    },
      {
      val (ctes, _) = kmeansAsgCtes(2)
      s"""WITH $ctes
         SELECT vec_id, cell_id FROM (
           SELECT vec_id, cell_id,
             ROW_NUMBER() OVER (PARTITION BY cell_id
               ORDER BY ${h32Sql("CAST(vec_id AS VARCHAR)")} ASC,
                 vec_id ASC) AS rk
           FROM asgf)
         WHERE rk <= 8 ORDER BY vec_id"""
    }),

    // benchmark decontamination: corpus docs sharing any word 5-gram
    // with the (mock) benchmark slice, with evidence counts.
    Query("llm_contamination", (s, dir) => {
      val docs = table(s, dir, "documents")
      Contamination.contaminatedDocs(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), n = 5)
        .orderBy(col("doc_id"))
    },
      s"""WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 4, 0)),
             i -> ${h60Sql("array_to_string(tk[i:i+4], ' ')")})) AS s
           FROM tk),
         bs AS (SELECT DISTINCT unnest(s) AS h FROM sh
                WHERE doc_id % 10 = 0),
         ds AS (SELECT doc_id, unnest(s) AS h FROM sh
                WHERE doc_id % 10 <> 0)
         SELECT ds.doc_id, COUNT(DISTINCT ds.h) AS n_shared
         FROM ds JOIN bs ON ds.h = bs.h
         GROUP BY ds.doc_id ORDER BY doc_id"""),

    // n-gram overlap fraction vs the benchmark slice with the tau
    // verdict — the normalized form of llm_contamination's evidence.
    // overlap-fraction replay: the contamination shingle CTEs plus a
    // per-doc distinct-shingle count and the round-6 ratio gate.
    Query("llm_overlap_frac", (s, dir) => {
      val docs = table(s, dir, "documents")
      Contamination.overlapFraction(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), n = 5, tau = 0.5)
        .orderBy(col("doc_id"))
    },
      s"""WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 4, 0)),
             i -> ${h60Sql("array_to_string(tk[i:i+4], ' ')")})) AS s
           FROM tk),
         bs AS (SELECT DISTINCT unnest(s) AS h FROM sh
                WHERE doc_id % 10 = 0),
         dh AS (SELECT doc_id, unnest(s) AS h FROM sh
                WHERE doc_id % 10 <> 0),
         shared AS (
           SELECT dh.doc_id, count(*) AS n_shared
           FROM dh JOIN bs USING (h) GROUP BY dh.doc_id),
         base AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles
                  FROM sh WHERE doc_id % 10 <> 0)
         SELECT b.doc_id, b.n_shingles,
           CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
           CASE WHEN b.n_shingles > 0
                THEN round(CAST(coalesce(s.n_shared, 0) AS DOUBLE)
                  / b.n_shingles, 6)
                ELSE 0.0 END AS overlap_frac,
           (CASE WHEN b.n_shingles > 0
                 THEN round(CAST(coalesce(s.n_shared, 0) AS DOUBLE)
                   / b.n_shingles, 6)
                 ELSE 0.0 END) > 0.5 AS contaminated
         FROM base b LEFT JOIN shared s USING (doc_id)
         ORDER BY b.doc_id"""),

    // bloom-filter decontamination — the constant-size scale path:
    // the benchmark collapses to a 16 KiB bit array, the corpus side
    // is a shuffle-free scan+filter (native BloomHits kernel). Same
    // benchmark split as llm_contamination; n_flagged includes bloom
    // false positives deterministically (same filter in the oracle).
    // bloom replay: same 60-bit shingle hashes, positions are the four
    // 17-bit windows at shifts 0/14/28/42, words are 32-bit masks in
    // BIGINT (1 << bit stays positive — DuckDB BIGINT shifts trap on
    // overflow). A doc's shingle "hits" when all 4 windows' bits are
    // set; n_flagged counts hitting distinct shingles per doc.
    Query("llm_bloom_decon", (s, dir) => {
      val docs = table(s, dir, "documents")
      val words = Contamination.bloomWords(
        docs.filter(col("doc_id") % 10 === 0), n = 5)
      Contamination.bloomContaminatedDocs(
          docs.filter(col("doc_id") % 10 =!= 0), words, n = 5)
        .orderBy(col("doc_id"))
    },
      s"""WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 4, 0)),
             i -> ${h60Sql("array_to_string(tk[i:i+4], ' ')")})) AS s
           FROM tk),
         bs AS (SELECT DISTINCT unnest(s) AS h FROM sh
                WHERE doc_id % 10 = 0),
         words AS (
           SELECT p >> 5 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS bits
           FROM (
             SELECT ((h >> 0) & 131071) AS p FROM bs
             UNION ALL SELECT ((h >> 14) & 131071) FROM bs
             UNION ALL SELECT ((h >> 28) & 131071) FROM bs
             UNION ALL SELECT ((h >> 42) & 131071) FROM bs)
           GROUP BY 1),
         ds AS (SELECT doc_id, unnest(s) AS h FROM sh
                WHERE doc_id % 10 <> 0),
         dpos AS (
           SELECT doc_id, h, ((h >> 0) & 131071) AS p FROM ds
           UNION ALL SELECT doc_id, h, ((h >> 14) & 131071) FROM ds
           UNION ALL SELECT doc_id, h, ((h >> 28) & 131071) FROM ds
           UNION ALL SELECT doc_id, h, ((h >> 42) & 131071) FROM ds),
         hit AS (
           SELECT doc_id, h FROM dpos
           JOIN words ON (dpos.p >> 5) = words.w
             AND ((words.bits >> CAST(dpos.p & 31 AS INT)) & 1) = 1
           GROUP BY doc_id, h HAVING COUNT(*) = 4)
         SELECT doc_id, COUNT(*) AS n_flagged FROM hit
         GROUP BY doc_id ORDER BY doc_id"""),

    // multimodal plumbing with a verifiable projection: blob byte
    // length through the partition-batched extractor.
    Query("llm_mm_bytelen", (s, dir) => {
      val blobs = Multimodal.asBlobs(table(s, dir, "documents"),
        "doc_id", "text", "image")
      Multimodal.extractFeatures(blobs)
        .select(col("media_id"), col("byte_len"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS byte_len
         FROM documents ORDER BY media_id"""),

    // audio-kind multimodal path: decode-stub features + a 100-frame
    // stride sampling schedule over the (hash-derived) frame counts —
    // exercises the audio branch of the decoder contract end-to-end.
    // audio stub decoder: frames = 1 + (h32 >> 18) % 1000; byte_len is
    // a BYTE length (strlen is correct here, unlike codepoint stats)
    Query("llm_mm_audio", (s, dir) => {
      val blobs = Multimodal.asBlobs(table(s, dir, "documents"),
        "doc_id", "text", "audio")
      val feats = Multimodal.extractFeatures(blobs)
      feats.select(col("media_id"), col("byte_len"),
          col("n_frames"),
          (floor((col("n_frames") - 1) / 100) + 1).cast("long")
            .as("n_windows"))
        .orderBy(col("media_id"))
    },
      s"""WITH f AS (
           SELECT doc_id AS media_id,
             CAST(strlen(text) AS BIGINT) AS byte_len,
             ${h32Sql("text")} AS h32
           FROM documents)
         SELECT media_id, byte_len,
           CAST(1 + (h32 >> 18) % 1000 AS INT) AS n_frames,
           CAST(((1 + (h32 >> 18) % 1000) - 1) // 100 + 1 AS BIGINT)
             AS n_windows
         FROM f ORDER BY media_id"""),

    // REAL-decoder audio row: 16 WAV clips are synthesized whose PCM
    // samples are a closed-form integer function of (clip, index) —
    // the engine path round-trips an actual RIFF/WAVE container
    // through the JDK codec (AudioSystem.write -> AudioIO decode),
    // while the oracle replays the same integer math relationally.
    // RMS/peak/segment arithmetic is bit-exact by construction: v is
    // a 16-bit integer, v/2^15 and its square are dyadic rationals,
    // and the <= 2^38-numerator sums stay exact in double on both
    // engines; the only rounding is the decoder's float32 output,
    // replicated with an explicit FLOAT cast in the SQL.
    // real-decoder audio replay: the engine decoded an ACTUAL WAV
    // container; the oracle recomputes the closed-form PCM samples
    // (v = ((i*(2m+1)*2654435761) % 65536) - 32768) and the decoder's
    // level statistics with the same exact-dyadic arithmetic, float32
    // rounding replicated via an explicit FLOAT cast.
    Query("llm_mm_audio_real", (s, dir) => {
      val blobs = blobFrame(s, "audio",
        (1 to 16).map(m => (m.toLong, pcmClip(fullRangeSample(m)))))
      val feats = Multimodal.extractFeatures(blobs,
        Multimodal.MediaDecoder.AudioIO)
      feats.select(col("media_id"),
          col("width").cast("long").as("sample_rate"),
          col("height").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"),
          vecAt(1, "rms"), vecAt(3, "peak"),
          vecAt(5, "seg1"), vecAt(6, "seg2"),
          vecAt(7, "seg3"), vecAt(8, "seg4"))
        .orderBy(col("media_id"))
    },
      s"""WITH s AS (
           SELECT m, i,
             ((i * (2*m + 1) * 2654435761) % 65536) - 32768 AS v,
             i // 64 AS seg
           FROM generate_series(1, 16) t(m),
                generate_series(0, 255) t2(i)),
         st AS (
           SELECT m,
             SUM(CAST(v AS DOUBLE) * v) AS sq,
             MAX(ABS(v)) AS pk
           FROM s GROUP BY m),
         sg AS (
           SELECT m, seg, SUM(CAST(v AS DOUBLE) * v) AS ssq
           FROM s GROUP BY m, seg),
         sgp AS (
           SELECT m,
             list(CAST(CAST(sqrt(ssq / 64.0 / 1073741824.0) AS FLOAT)
               AS DOUBLE) ORDER BY seg) AS segs
           FROM sg GROUP BY m)
         SELECT st.m AS media_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(256 AS BIGINT) AS n_frames,
           round(CAST(CAST(sqrt(sq / 256.0 / 1073741824.0) AS FLOAT)
             AS DOUBLE), 6) AS rms,
           round(CAST(CAST(pk / 32768.0 AS FLOAT) AS DOUBLE), 6)
             AS peak,
           round(segs[1], 6) AS seg1, round(segs[2], 6) AS seg2,
           round(segs[3], 6) AS seg3, round(segs[4], 6) AS seg4
         FROM st JOIN sgp ON sgp.m = st.m
         ORDER BY media_id"""),

    // audio quality gate over REAL-decoded clips: 16 WAVs with
    // amplitude A = 2048*m (v uniform-ish in [-A, A] via modulus), so
    // rms/peak grow with m and the clipping / silence verdicts flip
    // at predictable clips — decode through the actual JDK codec,
    // verdict arithmetic replayed relationally.
    // audio quality replay: amplitude-varied closed-form PCM; the
    // float32 rms/peak compare against the thresholds BEFORE the
    // display rounding, exactly like the engine's verdict columns.
    Query("llm_mm_audio_quality", (s, dir) => {
      // clip m at amplitude A = 2048*m
      def sample(m: Int)(i: Int): Int = {
        val amp = 2048L * m
        val k = 2 * m + 1
        (((i.toLong * k * 2654435761L) % (2 * amp + 1)) - amp).toInt
      }
      val blobs = blobFrame(s, "audio",
        (1 to 16).map(m => (m.toLong, pcmClip(sample(m)))))
      Multimodal.audioQuality(
          Multimodal.extractFeatures(blobs,
            Multimodal.MediaDecoder.AudioIO),
          clipThreshold = 0.9, silenceRms = 0.05)
        .orderBy(col("media_id"))
    },
      s"""WITH s AS (
           SELECT m, i,
             ((i * (2*m + 1) * 2654435761) % (2 * 2048 * m + 1))
               - 2048 * m AS v
           FROM generate_series(1, 16) t(m),
                generate_series(0, 255) t2(i)),
         st AS (
           SELECT m,
             CAST(CAST(sqrt(SUM(CAST(v AS DOUBLE) * v) / 256.0
               / 1073741824.0) AS FLOAT) AS DOUBLE) AS rmsf,
             CAST(CAST(MAX(ABS(v)) / 32768.0 AS FLOAT) AS DOUBLE)
               AS peakf
           FROM s GROUP BY m)
         SELECT m AS media_id, CAST(256 AS BIGINT) AS n_frames,
           round(256.0 / 8000.0, 6) AS duration_sec,
           round(rmsf, 6) AS rms, round(peakf, 6) AS peak,
           peakf >= 0.9 AS is_clipped, rmsf < 0.05 AS is_silent,
           FALSE AS is_undecoded
         FROM st ORDER BY media_id"""),

    // image quality gate over REAL-decoded PNGs with varied shapes:
    // w = 4m x 6 (aspect sweeps 0.67 -> 8), every 4th image a uniform
    // color (quadrant spread 0 -> flat verdict) — size/aspect/flatness
    // verdicts replayed relationally from the same pixel math.
    // image quality replay: per-m dims (w = 4m x 6), uniform-color
    // every 4th image; spread compares float32 quadrant means before
    // the display rounding, exactly like the engine's verdicts.
    Query("llm_mm_image_quality", (s, dir) => {
      // w = 4m x 6; every 4th image one gray level
      def png(m: Int): Array[Byte] = encode(raster(4 * m, 6) { (x, y) =>
        if (m % 4 == 0) { val c = (m * 13) % 256; (c << 16) | (c << 8) | c }
        else rasterRgb(m)(x, y)
      }, "png")
      val blobs = blobFrame(s, "image",
        (1 to 12).map(m => (m.toLong, png(m))))
      Multimodal.imageQuality(
          Multimodal.extractFeatures(blobs,
            Multimodal.MediaDecoder.ImageIO),
          minPixels = 100L, maxAspect = 4.0, flatEps = 0.02)
        .orderBy(col("media_id"))
    },
      s"""WITH px AS (
           SELECT m, x, y,
             CASE WHEN m % 4 = 0 THEN (m*13) % 256
                  ELSE (x*37 + y*101 + m*13) % 256 END AS r,
             CASE WHEN m % 4 = 0 THEN (m*13) % 256
                  ELSE (x*59 + y*17 + m*29) % 256 END AS g,
             CASE WHEN m % 4 = 0 THEN (m*13) % 256
                  ELSE (x*7 + y*43 + m*71) % 256 END AS b,
             (CASE WHEN y >= 3 THEN 2 ELSE 0 END +
              CASE WHEN x >= 2*m THEN 1 ELSE 0 END) AS q
           FROM generate_series(1, 12) t(m),
                generate_series(0, 47) tx(x),
                generate_series(0, 5) ty(y)
           WHERE x < 4*m),
         qd AS (
           SELECT m, q, SUM(r + g + b) AS ql, COUNT(*) AS qn
           FROM px GROUP BY m, q),
         qdp AS (
           SELECT m,
             MAX(CAST(CAST(ql / (qn * 3.0 * 255.0) AS FLOAT)
               AS DOUBLE)) -
             MIN(CAST(CAST(ql / (qn * 3.0 * 255.0) AS FLOAT)
               AS DOUBLE)) AS spread
           FROM qd GROUP BY m)
         SELECT m AS media_id, CAST(4*m AS BIGINT) AS width,
           CAST(6 AS BIGINT) AS height,
           CAST(24*m AS BIGINT) AS n_pixels,
           round(greatest(4*m, 6) * 1.0 / least(4*m, 6), 6) AS aspect,
           round(spread, 6) AS quad_spread,
           24*m < 100 AS is_tiny,
           greatest(4*m, 6) * 1.0 / least(4*m, 6) > 4.0
             AS is_extreme_aspect,
           spread < 0.02 AS is_flat,
           FALSE AS is_undecoded
         FROM qdp ORDER BY media_id"""),

    // REAL-decoder image row (the llm_mm_audio_real device for the
    // other codec): 12 PNGs are synthesized with closed-form pixel
    // channels (r/g/b = integer functions of (clip, x, y)), encoded
    // losslessly, and decoded through the ACTUAL javax.imageio codec;
    // the oracle replays the decoder's channel/quadrant statistics
    // from the same integer math. Channel sums are exact integers on
    // both engines; the only rounding is the decoder's float32
    // output, replicated with an explicit FLOAT cast.
    // real-decoder image replay: closed-form pixel channels, exact
    // integer channel/quadrant sums, float32 rounding via FLOAT cast.
    Query("llm_mm_image_real", (s, dir) => {
      val blobs = blobFrame(s, "image", (1 to 12).map(m =>
        (m.toLong, encode(raster(8, 6)(rasterRgb(m)), "png"))))
      val feats = Multimodal.extractFeatures(blobs,
        Multimodal.MediaDecoder.ImageIO)
      feats.select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          vecAt(1, "mean_r"), vecAt(2, "mean_g"), vecAt(3, "mean_b"),
          vecAt(4, "mean_luma"), vecAt(5, "luma_tl"),
          vecAt(6, "luma_tr"), vecAt(7, "luma_bl"),
          vecAt(8, "luma_br"))
        .orderBy(col("media_id"))
    },
      s"""WITH px AS (
           SELECT m, x, y,
             (x*37 + y*101 + m*13) % 256 AS r,
             (x*59 + y*17 + m*29) % 256 AS g,
             (x*7 + y*43 + m*71) % 256 AS b,
             (CASE WHEN y >= 3 THEN 2 ELSE 0 END +
              CASE WHEN x >= 4 THEN 1 ELSE 0 END) AS q
           FROM generate_series(1, 12) t(m),
                generate_series(0, 7) tx(x),
                generate_series(0, 5) ty(y)),
         ch AS (
           SELECT m, SUM(r) AS sr, SUM(g) AS sg, SUM(b) AS sb
           FROM px GROUP BY m),
         qd AS (
           SELECT m, q, SUM(r + g + b) AS ql, COUNT(*) AS qn
           FROM px GROUP BY m, q),
         qdp AS (
           SELECT m,
             list(CAST(CAST(ql / (qn * 3.0 * 255.0) AS FLOAT)
               AS DOUBLE) ORDER BY q) AS quads
           FROM qd GROUP BY m)
         SELECT ch.m AS media_id,
           CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
           round(CAST(CAST(sr / (48 * 255.0) AS FLOAT) AS DOUBLE), 6)
             AS mean_r,
           round(CAST(CAST(sg / (48 * 255.0) AS FLOAT) AS DOUBLE), 6)
             AS mean_g,
           round(CAST(CAST(sb / (48 * 255.0) AS FLOAT) AS DOUBLE), 6)
             AS mean_b,
           round(CAST(CAST((sr + sg + sb) / (48 * 3.0 * 255.0)
             AS FLOAT) AS DOUBLE), 6) AS mean_luma,
           round(quads[1], 6) AS luma_tl, round(quads[2], 6) AS luma_tr,
           round(quads[3], 6) AS luma_bl, round(quads[4], 6) AS luma_br
         FROM ch JOIN qdp ON qdp.m = ch.m
         ORDER BY media_id"""),

    // REAL-decoder video row (the image_real/audio_real device for
    // the multi-frame codec): 10 animated GIFs are synthesized with
    // uniform-color frames on explicit 2-entry palettes (r/g/b =
    // integer functions of (clip, frame) — GIF stores the palette
    // verbatim, so decode is bit-exact) and decoded through the
    // ACTUAL javax.imageio frame enumerator; the oracle replays the
    // frame count, the i*(n-1)/3 sampling schedule, and the
    // luma/delta arithmetic from the same integer math. A uniform
    // w x h frame's mean luma (sum*wh)/(wh*765) rounds identically
    // to (r+g+b)/765 — both divide the same exact real — so the only
    // rounding is the decoder's float32 output, replicated with an
    // explicit FLOAT cast.
    // real-decoder video replay: frame count n = 2 + m%5, sampling
    // schedule f_i = i*(n-1)//3, uniform-frame luma = (r+g+b)/765
    // (same exact real quotient as the engine's per-pixel sum),
    // float32 rounding via FLOAT cast; deltas/mean computed on the
    // DOUBLE lumas then float-cast, matching the decoder.
    Query("llm_mm_video_real", (s, dir) => {
      def frame(m: Int, f: Int): java.awt.image.BufferedImage =
        uniformFrame(((m * 37 + f * 91) % 256) << 16 |
          ((m * 59 + f * 53) % 256) << 8 | (m * 7 + f * 29) % 256)
      def gif(m: Int): Array[Byte] =
        Multimodal.encodeGif(
          (0 until (2 + m % 5)).map(f => frame(m, f)))
      val blobs = blobFrame(s, "video",
        (1 to 10).map(m => (m.toLong, gif(m))))
      val feats = Multimodal.extractFeatures(blobs,
        Multimodal.MediaDecoder.VideoIO)
      feats.select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          vecAt(1, "luma_f0"), vecAt(2, "luma_f1"),
          vecAt(3, "luma_f2"), vecAt(4, "luma_f3"),
          vecAt(5, "delta_01"), vecAt(6, "delta_12"),
          vecAt(7, "delta_23"), vecAt(8, "mean_luma"))
        .orderBy(col("media_id"))
    },
      s"""WITH clips AS (
           SELECT m, 2 + (m % 5) AS n
           FROM generate_series(1, 10) t(m)),
         samp AS (
           SELECT m, n, i, (i * (n - 1)) // 3 AS f
           FROM clips, generate_series(0, 3) s(i)),
         lum AS (
           SELECT m, n, i,
             (((m*37 + f*91) % 256 + (m*59 + f*53) % 256 +
               (m*7 + f*29) % 256) / 765.0) AS l
           FROM samp),
         lp AS (
           SELECT m, MAX(n) AS n, list(l ORDER BY i) AS ls
           FROM lum GROUP BY m)
         SELECT m AS media_id,
           CAST(8 AS BIGINT) AS width, CAST(5 AS BIGINT) AS height,
           CAST(n AS BIGINT) AS n_frames,
           round(CAST(CAST(ls[1] AS FLOAT) AS DOUBLE), 6) AS luma_f0,
           round(CAST(CAST(ls[2] AS FLOAT) AS DOUBLE), 6) AS luma_f1,
           round(CAST(CAST(ls[3] AS FLOAT) AS DOUBLE), 6) AS luma_f2,
           round(CAST(CAST(ls[4] AS FLOAT) AS DOUBLE), 6) AS luma_f3,
           round(CAST(CAST(ABS(ls[2] - ls[1]) AS FLOAT) AS DOUBLE), 6)
             AS delta_01,
           round(CAST(CAST(ABS(ls[3] - ls[2]) AS FLOAT) AS DOUBLE), 6)
             AS delta_12,
           round(CAST(CAST(ABS(ls[4] - ls[3]) AS FLOAT) AS DOUBLE), 6)
             AS delta_23,
           round(CAST(CAST((ls[1] + ls[2] + ls[3] + ls[4]) / 4.0
             AS FLOAT) AS DOUBLE), 6) AS mean_luma
         FROM lp ORDER BY media_id"""),

    // Perceptual dHash over REAL-decoded pixels: 12 closed-form PNGs
    // (the image_real pixel formula on an 18x16 raster so the 9x8
    // grid is exact 2x2 area averages); the oracle recomputes the
    // 64 cross-multiplied gradient bits from the same integer math —
    // no floats anywhere, so the hash matches bit-for-bit. The
    // 64-bit value rides as two 32-bit halves (BIGINT-safe on both
    // engines).
    // perceptual dHash replay: same pixel formula, 9x8 cell sums,
    // cross-multiplied gradient bits, hash packed as two 32-bit
    // halves (1::BIGINT << idx stays in-range; SUM's HUGEINT result
    // casts back down losslessly).
    Query("llm_mm_phash", (s, dir) => {
      val blobs = blobFrame(s, "image", (1 to 12).map(m =>
        (m.toLong, encode(raster(18, 16)(rasterRgb(m)), "png"))))
      Multimodal.imagePhash(blobs)
        .select(col("media_id"),
          shiftrightunsigned(col("phash"), 32).as("phash_hi"),
          col("phash").bitwiseAND(lit(0xFFFFFFFFL)).as("phash_lo"))
        .orderBy(col("media_id"))
    },
      s"""WITH $phashBitsCtes
         SELECT m AS media_id,
           CAST(SUM(CASE WHEN idx >= 32
             THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
             AS BIGINT) AS phash_hi,
           CAST(SUM(CASE WHEN idx < 32
             THEN bit * (1::BIGINT << idx) ELSE 0 END)
             AS BIGINT) AS phash_lo
         FROM bits GROUP BY m ORDER BY media_id"""),

    // Perceptual near-dup pairs: each PNG also ships as a
    // pixel-identical BMP re-encode (id + 100) — different container
    // bytes, same raster, so dHash collides exactly and the banded
    // join surfaces every (m, m+100) pair at Hamming 0; the oracle
    // replays the hashes once per raster and takes full pairwise
    // bit_count(xor) <= 3, which the 4x16-band pigeonhole guarantees
    // the engine matches.
    // perceptual near-dup replay: hashes once per raster, cloned to
    // both container ids (m, m+100), full pairwise Hamming via
    // bit_count(xor) on the halves — complete for <= 3 by the band
    // pigeonhole, so it equals the engine's banded join.
    Query("llm_mm_phash_pairs", (s, dir) => {
      Multimodal.phashNearDupPairs(pngBmpTwins(s))
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $phashIdsCtes
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) +
                bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         FROM ids a JOIN ids b ON a.id < b.id
         WHERE bit_count(xor(a.hi, b.hi)) +
               bit_count(xor(a.lo, b.lo)) <= 3
         ORDER BY id_a, id_b"""),

    // Acoustic fingerprint over REAL-decoded PCM: the audio_real
    // clips (256 frames -> 64 segments x 4 frames), fingerprint =
    // circular energy-gradient bits; every quantity is an exact
    // integer (Long sums of int16 squares, pure compares), so the
    // oracle replays the hash bit-for-bit from the closed-form
    // sample function. Halves-packed like llm_mm_phash.
    // acoustic fingerprint replay: exact integer segment energies
    // (64 segments x 4 frames of the closed-form samples), circular
    // gradient bits, halves-packed.
    Query("llm_mm_audio_fp", (s, dir) => {
      val blobs = blobFrame(s, "audio",
        (1 to 16).map(m => (m.toLong, pcmClip(fullRangeSample(m)))))
      Multimodal.audioFingerprint(blobs)
        .select(col("media_id"),
          shiftrightunsigned(col("afp"), 32).as("afp_hi"),
          col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("afp_lo"))
        .orderBy(col("media_id"))
    },
      s"""WITH s AS (
           SELECT m, i,
             ((i * (2*m + 1) * 2654435761) % 65536) - 32768 AS v,
             i // 4 AS seg
           FROM generate_series(1, 16) t(m),
                generate_series(0, 255) t2(i)),
         e AS (
           SELECT m, seg, SUM(v * v) AS e FROM s GROUP BY m, seg),
         bits AS (
           SELECT a.m, a.seg AS idx,
             CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
           FROM e a JOIN e b
             ON b.m = a.m AND b.seg = (a.seg + 1) % 64)
         SELECT m AS media_id,
           CAST(SUM(CASE WHEN idx >= 32
             THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
             AS BIGINT) AS afp_hi,
           CAST(SUM(CASE WHEN idx < 32
             THEN bit * (1::BIGINT << idx) ELSE 0 END)
             AS BIGINT) AS afp_lo
         FROM bits GROUP BY m ORDER BY media_id"""),

    // Acoustic near-dup pairs: each clip also ships as an AIFF
    // re-encode (id + 100) — big-endian container, same PCM samples
    // after the JDK transcode, so fingerprints collide exactly; the
    // oracle replays hashes once per clip and takes full pairwise
    // bit_count(xor) <= 3 (band-pigeonhole-complete).
    // acoustic near-dup replay: one hash per clip, cloned to both
    // container ids (m, m+100), full pairwise bit_count(xor) <= 3.
    Query("llm_mm_audio_fp_pairs", (s, dir) => {
      val blobs = blobFrame(s, "audio",
        (1 to 16).map(m => (m.toLong, pcmClip(fullRangeSample(m)))) ++
          (1 to 16).map(m => (m.toLong + 100,
            pcmClip(fullRangeSample(m), aiff = true))))
      Multimodal.audioNearDupPairs(blobs)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH s AS (
           SELECT m, i,
             ((i * (2*m + 1) * 2654435761) % 65536) - 32768 AS v,
             i // 4 AS seg
           FROM generate_series(1, 16) t(m),
                generate_series(0, 255) t2(i)),
         e AS (
           SELECT m, seg, SUM(v * v) AS e FROM s GROUP BY m, seg),
         bits AS (
           SELECT a.m, a.seg AS idx,
             CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
           FROM e a JOIN e b
             ON b.m = a.m AND b.seg = (a.seg + 1) % 64),
         hashes AS (
           SELECT m,
             CAST(SUM(CASE WHEN idx >= 32
               THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN idx < 32
               THEN bit * (1::BIGINT << idx) ELSE 0 END)
               AS BIGINT) AS lo
           FROM bits GROUP BY m),
         ids AS (
           SELECT m + 100*o AS id, hi, lo
           FROM hashes, generate_series(0, 1) g(o))
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) +
                bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         FROM ids a JOIN ids b ON a.id < b.id
         WHERE bit_count(xor(a.hi, b.hi)) +
               bit_count(xor(a.lo, b.lo)) <= 3
         ORDER BY id_a, id_b"""),

    // Temporally-aligned video near-dup over REAL-decoded frames:
    // 8 base clips (5 textured 16x12 frames each, exact 192-entry
    // palettes) plus variants (id+100) whose LAST frame is replaced —
    // the 4 sampled slots then agree on 3 of 4, exactly the
    // minMatches=3 bar. Frame dHashes and the slot-aligned pair rule
    // replay in pure integer SQL.
    // video near-dup replay: per-(clip, frame) dHashes from the pixel
    // formula, the i*(n-1)//3 slot schedule (n=5 -> frames 0,1,2,4;
    // variants replace the slot-3 frame with content f=9),
    // slot-aligned pairwise Hamming <= 3, >= 3 matching slots.
    Query("llm_mm_video_pairs", (s, dir) => {
      val (w, h) = (16, 12)
      def frame(m: Int, f: Int): java.awt.image.BufferedImage = {
        val n = w * h
        val (rs, gs, bs) =
          (new Array[Byte](n), new Array[Byte](n), new Array[Byte](n))
        for (y <- 0 until h; x <- 0 until w) {
          val i = y * w + x
          rs(i) = ((x * 37 + y * 101 + m * 13 + f * 91) % 256).toByte
          gs(i) = ((x * 59 + y * 17 + m * 29 + f * 53) % 256).toByte
          bs(i) = ((x * 7 + y * 43 + m * 71 + f * 29) % 256).toByte
        }
        val cm = new java.awt.image.IndexColorModel(8, n, rs, gs, bs)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        for (y <- 0 until h; x <- 0 until w) {
          val i = y * w + x
          img.setRGB(x, y, ((rs(i) & 0xFF) << 16) |
            ((gs(i) & 0xFF) << 8) | (bs(i) & 0xFF))
        }
        img
      }
      def gif(m: Int, variant: Boolean): Array[Byte] =
        Multimodal.encodeGif((0 until 5).map(f =>
          frame(m, if (variant && f == 4) 9 else f)))
      val blobs = blobFrame(s, "video",
        (1 to 8).map(m => (m.toLong, gif(m, false))) ++
          (1 to 8).map(m => (m.toLong + 100, gif(m, true))))
      Multimodal.videoNearDupPairs(blobs)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH px AS (
           SELECT m, f, x, y,
             ((x*37 + y*101 + m*13 + f*91) % 256 +
              (x*59 + y*17 + m*29 + f*53) % 256 +
              (x*7 + y*43 + m*71 + f*29) % 256) AS luma,
             (x*9)//16 AS cx, (y*8)//12 AS cy
           FROM generate_series(1, 8) t(m),
                (SELECT unnest([0, 1, 2, 4, 9]) AS f) tf,
                generate_series(0, 15) tx(x),
                generate_series(0, 11) ty(y)),
         cells AS (
           SELECT m, f, cx, cy, SUM(luma) AS s, COUNT(*) AS n
           FROM px GROUP BY m, f, cx, cy),
         bits AS (
           SELECT l.m, l.f, l.cy*8 + l.cx AS idx,
             CASE WHEN r.s*l.n > l.s*r.n THEN 1 ELSE 0 END AS bit
           FROM cells l JOIN cells r
             ON r.m = l.m AND r.f = l.f
             AND r.cy = l.cy AND r.cx = l.cx + 1),
         hashes AS (
           SELECT m, f,
             CAST(SUM(CASE WHEN idx >= 32
               THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN idx < 32
               THEN bit * (1::BIGINT << idx) ELSE 0 END)
               AS BIGINT) AS lo
           FROM bits GROUP BY m, f),
         clips AS (
           SELECT m + 100*o AS id, slot,
             CASE WHEN slot < 3 THEN slot
                  WHEN o = 0 THEN 4 ELSE 9 END AS f
           FROM generate_series(1, 8) t(m),
                generate_series(0, 1) g(o),
                generate_series(0, 3) s(slot)),
         sh AS (
           SELECT c.id, c.slot, h.hi, h.lo
           FROM clips c JOIN hashes h
             ON h.m = c.id % 100 AND h.f = c.f),
         matches AS (
           SELECT a.id AS id_a, b.id AS id_b,
             COUNT(DISTINCT a.slot) AS fm
           FROM sh a JOIN sh b ON a.slot = b.slot AND a.id < b.id
           WHERE bit_count(xor(a.hi, b.hi)) +
                 bit_count(xor(a.lo, b.lo)) <= 3
           GROUP BY a.id, b.id)
         SELECT id_a, id_b, CAST(fm AS BIGINT) AS frames_matched
         FROM matches WHERE fm >= 3 ORDER BY id_a, id_b"""),

    // video quality gate over REAL-decoded clips: planted verdict
    // classes per m%4 — static (constant color), flicker
    // (black/white alternation), short (single frame), normal (mild
    // per-frame gradient) — decode through the actual GIF frame
    // enumerator, verdicts replayed with float32-before-threshold
    // comparison (the audio_quality device on the temporal axis).
    // video quality replay: per-class closed-form lumas, the
    // i*(n-1)//3 schedule, float32 deltas compared against the
    // thresholds BEFORE display rounding.
    Query("llm_mm_video_quality", (s, dir) => {
      def gray(v: Int) = (v << 16) | (v << 8) | v
      def gif(m: Int): Array[Byte] = {
        val n = if (m % 4 == 2) 1 else 4
        Multimodal.encodeGif((0 until n).map { f =>
          uniformFrame(m % 4 match {
            case 0 => gray((m * 11) % 256)
            case 1 => if (f % 2 == 0) gray(0) else gray(255)
            case 2 => gray((m * 7) % 256)
            case _ => gray(100 + 2 * f + m)
          })
        })
      }
      val blobs = blobFrame(s, "video",
        (1 to 12).map(m => (m.toLong, gif(m))))
      Multimodal.videoQuality(
          Multimodal.extractFeatures(blobs,
            Multimodal.MediaDecoder.VideoIO))
        .orderBy(col("media_id"))
    },
      s"""WITH clips AS (
           SELECT m, CASE WHEN m % 4 = 2 THEN 1 ELSE 4 END AS n
           FROM generate_series(1, 12) t(m)),
         samp AS (
           SELECT m, n, i, (i * (n - 1)) // 3 AS f
           FROM clips, generate_series(0, 3) s(i)),
         lum AS (
           SELECT m, n, i,
             (CASE WHEN m % 4 = 0 THEN 3 * ((m*11) % 256)
                   WHEN m % 4 = 1 THEN
                     CASE WHEN f % 2 = 0 THEN 0 ELSE 765 END
                   WHEN m % 4 = 2 THEN 3 * ((m*7) % 256)
                   ELSE 3 * (100 + 2*f + m) END) / 765.0 AS l
           FROM samp),
         lp AS (
           SELECT m, MAX(n) AS n, list(l ORDER BY i) AS ls
           FROM lum GROUP BY m),
         dd AS (
           SELECT m, n,
             CAST(CAST(ABS(ls[2] - ls[1]) AS FLOAT) AS DOUBLE) AS d1,
             CAST(CAST(ABS(ls[3] - ls[2]) AS FLOAT) AS DOUBLE) AS d2,
             CAST(CAST(ABS(ls[4] - ls[3]) AS FLOAT) AS DOUBLE) AS d3
           FROM lp)
         SELECT m AS media_id, CAST(n AS BIGINT) AS n_frames,
           round(greatest(d1, d2, d3), 6) AS max_delta,
           round((d1 + d2 + d3) / 3.0, 6) AS mean_delta,
           n < 2 AS is_short,
           greatest(d1, d2, d3) < 0.002 AS is_static,
           (d1 + d2 + d3) / 3.0 > 0.25 AS is_flicker,
           FALSE AS is_undecoded
         FROM dd ORDER BY media_id"""),

    // Perceptual dedup end-to-end: phash pairs -> connected
    // components -> min-id representatives over the PNG+BMP fixture
    // corpus (each raster's BMP re-encode collapses onto its PNG);
    // the oracle replays hashes, pairwise Hamming, the recursive
    // closure, and the min-id keep rule.
    // perceptual dedup replay: phash closure + min-id keep (the
    // llm_mm_dedup recursive-closure device on the dHash pair set).
    Query("llm_mm_phash_dedup", (s, dir) => {
      val blobs = pngBmpTwins(s)
      Dedup.keepRepresentatives(blobs,
          Dedup.connectedComponents(
            Multimodal.phashNearDupPairs(blobs)
              .select(col("id_a"), col("id_b"))),
          idCol = "media_id")
        .select(col("media_id"))
        .orderBy(col("media_id"))
    },
      s"""WITH RECURSIVE $phashIdsCtes,
         vp AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM ids a JOIN ids b ON a.id < b.id
           WHERE bit_count(xor(a.hi, b.hi)) +
                 bit_count(xor(a.lo, b.lo)) <= 3),
         ${closureCtes("vp")}
         SELECT i.id AS media_id FROM ids i
         WHERE NOT EXISTS (SELECT 1 FROM comp c
                           WHERE c.id = i.id AND c.component < c.id)
         ORDER BY media_id"""),

    // Clip duration from REAL container metadata: per-frame
    // GraphicControlExtension delays summed in a header-only pass —
    // encode with delay 5+m%7 cs, decode through the actual metadata
    // tree, oracle = n * delay exactly.
    // video duration replay: n = 2+m%5 frames, each carrying the
    // encoded 5+m%7 cs delay -> total = n*(5+m%7).
    Query("llm_mm_video_duration", (s, dir) => {
      def gif(m: Int): Array[Byte] =
        Multimodal.encodeGif(
          (0 until (2 + m % 5)).map(f => uniformFrame(
            (m * 37 + f * 91) % 256 << 16 | 0x4080)),
          delayCs = 5 + m % 7)
      val blobs = blobFrame(s, "video",
        (1 to 10).map(m => (m.toLong, gif(m))))
      Multimodal.videoDurations(blobs)
        .select(col("media_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("duration_cs"))
        .orderBy(col("media_id"))
    },
      s"""SELECT m AS media_id,
           CAST(2 + m % 5 AS BIGINT) AS n_frames,
           CAST((2 + m % 5) * (5 + m % 7) AS BIGINT) AS duration_cs
         FROM generate_series(1, 10) t(m) ORDER BY media_id"""),

    // video path: stub decode -> every-7th-frame sampling schedule
    // (the relational plan a per-frame decoder plugs into).
    // video stub decoder: frames = 1 + (h32 >> 18) % 120; sampling
    // schedule = generate_series with the stride.
    Query("llm_mm_frames", (s, dir) => {
      val blobs = Multimodal.asBlobs(table(s, dir, "documents"),
        "doc_id", "text", "video")
      Multimodal.sampleFrames(Multimodal.extractFeatures(blobs),
          stride = 7)
        .select(col("media_id"),
          col("frame_idx").cast("long").as("frame_idx"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
      s"""WITH f AS (
           SELECT doc_id AS media_id,
             CAST(1 + (${h32Sql("text")} >> 18) % 120 AS INT) AS n_frames
           FROM documents)
         SELECT media_id, CAST(i AS BIGINT) AS frame_idx
         FROM f, unnest(generate_series(0, n_frames - 1, 7)) AS g(i)
         ORDER BY media_id, frame_idx"""),

    // full multimodal feature extraction + frame-sampling schedule;
    // the deterministic stub decoder's arithmetic is replayed in the
    // oracle, so the whole plumbing is hash-verified.
    Query("llm_mm_features", (s, dir) => {
      val docs = table(s, dir, "documents")
      val blobs = Multimodal.asBlobs(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", "image")
        .unionByName(Multimodal.asBlobs(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "video"))
      val feats = Multimodal.extractFeatures(blobs)
      val frames = Multimodal.sampleFrames(feats, stride = 10)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
      feats.join(frames, Seq("media_id"), "left")
        .select(col("media_id"), col("kind"), col("byte_len"),
          col("width"), col("height"), col("n_frames"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("media_id"))
    },
      mmFeaturesOracle),

    // chunk-level exact dedup: corpus-wide repeated 20-token passages
    // removed from every document (line-level web-dedup generalized to
    // token windows). Internal hashes never surface, so the oracle
    // replays on chunk TEXT directly.
    // chunk dedup is replayed on chunk TEXT (the engine's 64-bit chunk
    // hash is internal); dropping by over-frequent VALUE == dropping by
    // position of a matching value.
    Query("llm_chunk_dedup", (s, dir) =>
      Dedup.chunkDedup(table(s, dir, "documents"), chunkTokens = 20,
          maxFreq = 1)
        .select(col("doc_id"), col("text_clean"), col("n_chunks_dropped"))
        .orderBy(col("doc_id")),
      """WITH toks AS (
           SELECT doc_id, text,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         ch AS (
           SELECT doc_id, text,
             CASE WHEN len(tk) > 0 THEN
               list_transform(generate_series(0, (len(tk) - 1) // 20),
                 i -> array_to_string(tk[i*20+1 : i*20+20], ' '))
             ELSE [] END AS chunks
           FROM toks),
         badset AS (
           SELECT coalesce(list(c), []) AS badlist FROM (
             SELECT c FROM (SELECT unnest(chunks) AS c FROM ch)
             GROUP BY c HAVING count(*) > 1))
         SELECT doc_id,
           CASE WHEN len(kept) = len(chunks) THEN text
                ELSE coalesce(array_to_string(kept, ' '), '') END
             AS text_clean,
           CAST(len(chunks) - len(kept) AS BIGINT) AS n_chunks_dropped
         FROM (
           SELECT ch.doc_id, ch.text, ch.chunks,
             list_filter(ch.chunks,
               x -> NOT list_contains(badset.badlist, x)) AS kept
           FROM ch, badset)
         ORDER BY doc_id"""),

    // PII redaction over deterministically PLANTED PII (the corpus has
    // none): the oracle plants and redacts with the same RE2-safe
    // patterns, so the hash check exercises every rule.
    Query("llm_pii_redact", (s, dir) =>
      table(s, dir, "documents")
        .withColumn("_pii", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via "),
          lit("10.0."), col("doc_id") % 256, lit(".7 or +1 (555) 010-"),
          (lit(1000) + col("doc_id") % 9000).cast("string")))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("_pii")).as("text_redacted"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com via 10.0.'
               || CAST(doc_id % 256 AS VARCHAR) || '.7 or +1 (555) 010-'
               || CAST(1000 + doc_id % 9000 AS VARCHAR),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d().\- ]{6,}\d', '<PHONE>', 'g') AS text_redacted
         FROM documents ORDER BY doc_id"""),

    // int8-quantized exact top-k: every 100th vector queries the
    // corpus over the 4x-smaller quantized representation; recall vs
    // the float path asserted in LlmSpec.
    // int8 quantization replayed with the same floor(x*127/max+0.5)
    // rule; cosine over quantized values is exact integer arithmetic
    // in double, so no accumulation-order caveat applies.
    Query("llm_quant_topk", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = queryVecs(emb)
      Similarity.bruteTopKQuantized(emb, queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH q AS (
           SELECT vec_id,
             CASE WHEN mx > 0 THEN
               list_transform(embedding,
                 x -> floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5))
             ELSE list_transform(embedding, x -> 0.0) END AS qv
           FROM (SELECT vec_id, embedding,
                   list_aggregate(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
                 FROM embeddings)),
         scored AS (
           SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             round(
               list_sum(list_transform(list_zip(a.qv, b.qv),
                 t -> t[1] * t[2]))
               / (sqrt(list_sum(list_transform(a.qv, x -> x * x)))
                * sqrt(list_sum(list_transform(b.qv, x -> x * x)))), 6)
               AS cosine
           FROM q a, q b WHERE b.vec_id % 100 = 0)
         SELECT query_id, rank, vec_id, cosine FROM (
           SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    // corpus-wide top-50 vocabulary by token frequency.
    Query("llm_vocab", (s, dir) =>
      TextAnalysis.vocabulary(table(s, dir, "documents"), v = 50)
        .orderBy(col("rank")),
      """SELECT CAST(ROW_NUMBER() OVER (
             ORDER BY n_occurrences DESC, token ASC) AS BIGINT) AS rank,
           token, n_occurrences
         FROM (
           SELECT token, count(*) AS n_occurrences FROM (
             SELECT unnest(list_filter(
               regexp_split_to_array(text, '\s+'), t -> t <> '')) AS token
             FROM documents)
           GROUP BY token ORDER BY n_occurrences DESC, token ASC LIMIT 50)
         ORDER BY rank"""),

    // per-language OOV rate against the corpus top-50 vocabulary.
    Query("llm_oov", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.oovRate(docs, TextAnalysis.vocabulary(docs, v = 50))
        .orderBy(col("lang"))
    },
      """WITH tok AS (
           SELECT lang, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')) AS token
           FROM documents),
         vocab AS (
           SELECT token FROM (
             SELECT token, count(*) AS n FROM tok
             GROUP BY token ORDER BY n DESC, token ASC LIMIT 50))
         SELECT lang, count(*) AS n_tokens,
           round(avg(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS oov_rate
         FROM tok LEFT JOIN vocab v USING (token)
         GROUP BY lang ORDER BY lang"""),

    // bigram-LM quality scoring (perplexity gate): self-trained
    // add-0.5 LM, decimal-exact logprob average.
    // bigram-LM replay: identical smoothing formula and operand order;
    // the logprob sum goes through DECIMAL(38,18) on both sides so the
    // per-doc average is aggregation-order-independent.
    Query("llm_lm_score", (s, dir) =>
      lmScore05(s, dir).orderBy(col("doc_id")),
      s"""WITH $bigramLpCtes
         SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(SUM(CAST(lp AS DECIMAL(38,18))) AS DOUBLE)
             / count(*), 6) AS avg_logprob
         FROM lp GROUP BY doc_id ORDER BY doc_id"""),

    // interpolated Kneser-Ney bigram LM: trained on the 90% split
    // (doc_id % 10 <> 0), scoring the WHOLE corpus so the held-out
    // docs exercise the unseen-bigram / unseen-history backoff arms.
    // Kneser-Ney replay: identical formula text and operation order
    // (discount arm, add-one continuation floor, decimal avg, ppl
    // from the ROUNDED avg) so doubles match bit-for-bit.
    Query("llm_kn_score", (s, dir) => {
      val d = table(s, dir, "documents")
      TextAnalysis.knLmScore(d, d.filter(col("doc_id") % 10 =!= 0))
        .orderBy(col("doc_id"))
    },
      s"""WITH $knScoreCtes
         SELECT doc_id, n_bigrams, avg_logprob,
           round(exp(-avg_logprob), 6) AS ppl
         FROM agg ORDER BY doc_id"""),

    // KN perplexity tiers: the ppl_buckets ntile over the KN scores -
    // the real-LM upgrade of the CCNet tiering, proving the two
    // stages COMPOSE (same deployment shape: score once, tier many).
    // KN tiering: the proven KN CTEs + the llm_ppl_buckets ntile.
    Query("llm_kn_buckets", (s, dir) => {
      val d = table(s, dir, "documents")
      TextAnalysis.pplBucketsScored(d,
          TextAnalysis.knLmScore(d, d.filter(col("doc_id") % 10 =!= 0)),
          nBuckets = 3)
        .orderBy(col("doc_id"))
    },
      s"""WITH $knScoreCtes
         SELECT d.doc_id, d.lang, agg.avg_logprob,
           CAST(ntile(3) OVER (PARTITION BY d.lang
             ORDER BY agg.avg_logprob DESC, d.doc_id ASC) AS BIGINT)
             AS ppl_bucket
         FROM agg JOIN documents d ON d.doc_id = agg.doc_id
         ORDER BY d.doc_id"""),

    // per-source excess-loss reweighting over the SAME persisted KN
    // score table (score once, reweight many): hard sources get
    // upweighted with a uniform floor — the DoReMi-flavored mixture
    // adjustment, one |sources|-row arithmetic pass after scoring.
    // domain reweighting: the proven KN CTEs feed the per-source
    // mean-loss aggregate, then |sources|-row decimal arithmetic.
    Query("llm_domain_reweight", (s, dir) => {
      val d = table(s, dir, "documents")
      TextAnalysis.domainReweight(d,
          TextAnalysis.knLmScore(d, d.filter(col("doc_id") % 10 =!= 0)))
        .orderBy(col("source"))
    },
      s"""WITH $knScoreCtes,
         per AS (
           SELECT d.source, count(*) AS n_docs,
             round(-(CAST(SUM(CAST(agg.avg_logprob AS DECIMAL(38,18)))
               AS DOUBLE)) / count(*), 6) AS mean_loss
           FROM agg JOIN documents d ON d.doc_id = agg.doc_id
           GROUP BY d.source),
         mn AS (SELECT min(mean_loss) AS mn FROM per),
         rw AS (
           SELECT source, n_docs, mean_loss,
             round(mean_loss - mn.mn, 6) AS excess,
             1.0 + round(mean_loss - mn.mn, 6) AS raw
           FROM per, mn),
         tot AS (
           SELECT CAST(SUM(CAST(raw AS DECIMAL(38,12))) AS DOUBLE)
             AS tot FROM rw)
         SELECT source, n_docs, mean_loss, excess,
           round(raw / tot.tot, 6) AS weight
         FROM rw, tot ORDER BY source"""),

    // effective dataset size: per-source raw vs dup-weighted token
    // accounting + exact-dedup savings fraction (the dataset-card
    // headline table).
    // effective size: the dup_weights value-group device + token
    // counts, decimal-summed weighted tokens, savings fraction.
    Query("llm_effective_size", (s, dir) =>
      Dedup.effectiveSize(table(s, dir, "documents"))
        .orderBy(col("source")),
      raw"""WITH g AS (SELECT text, COUNT(*) AS n_copies
                    FROM documents GROUP BY text),
         t AS (
           SELECT d.doc_id, d.source,
             CAST(len(list_filter(regexp_split_to_array(d.text,
               '\s+'), x -> x <> '')) AS BIGINT) AS nt,
             round(1.0 / CAST(g.n_copies AS DOUBLE), 6) AS weight
           FROM documents d JOIN g USING (text))
         SELECT source, count(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS raw_tokens,
           round(CAST(SUM(CAST(weight * CAST(nt AS DOUBLE)
             AS DECIMAL(38,12))) AS DOUBLE), 6) AS eff_tokens,
           CASE WHEN SUM(nt) > 0 THEN
             round(1.0 - round(CAST(SUM(CAST(weight *
               CAST(nt AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE), 6)
               / CAST(SUM(nt) AS DOUBLE), 6)
           ELSE 0.0 END AS savings_frac
         FROM t GROUP BY source ORDER BY source"""),

    // content-defined chunking: rolling-cut boundaries from the
    // 4-gram hash stream (cut where h % 16 == 0), per-chunk 60-bit
    // key + corpus frequency — the shift-robust dedup granularity.
    // cdc chunks: md5-60 4-gram hash stream, interior cuts at
    // h % 16 == 0 (cut after token p+3, < len), chunk slices,
    // 15-hex chunk keys, df join. Single-level lambdas only (the
    // DuckDB nested-lambda capture bug — see llm_winnow note).
    Query("llm_cdc_chunks", (s, dir) =>
      Dedup.cdcChunks(table(s, dir, "documents"), n = 4, div = 16)
        .orderBy(col("doc_id"), col("chunk_idx")),
      raw"""WITH $docTokCte,
         hstream AS (
           SELECT doc_id, tk,
             CASE WHEN len(tk) >= 4 THEN
               list_transform(generate_series(1, len(tk) - 3),
                 i -> CAST(('0x' || substring(md5(
                   array_to_string(tk[i:i+3], ' ')), 1, 15))
                   AS BIGINT))
             ELSE CAST([] AS BIGINT[]) END AS hs
           FROM tok WHERE len(tk) >= 1),
         bt AS (
           SELECT doc_id, tk,
             CAST([0] AS BIGINT[]) ||
               list_filter(list_transform(
                 list_filter(generate_series(1, len(hs)),
                   p -> hs[p] % 16 = 0), p -> p + 3),
                 c -> c < len(tk)) ||
               CAST([len(tk)] AS BIGINT[]) AS bnd
           FROM hstream),
         ch AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(bnd) - 1),
             j -> {'idx': j,
                   'nt': bnd[j+1] - bnd[j],
                   'h': substring(md5(array_to_string(
                     tk[bnd[j]+1 : bnd[j+1]], ' ')), 1, 15)})) AS z
           FROM bt),
         rel AS (
           SELECT doc_id, CAST(z.idx AS BIGINT) AS chunk_idx,
             CAST(z.nt AS BIGINT) AS n_tokens, z.h AS chunk_hash
           FROM ch),
         freq AS (
           SELECT chunk_hash, count(*) AS df FROM rel
           GROUP BY chunk_hash)
         SELECT r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_hash, f.df
         FROM rel r JOIN freq f USING (chunk_hash)
         ORDER BY r.doc_id, r.chunk_idx"""),

    // sparse tf-idf cosine pairs over planted rare vocabulary
    // (every 17th doc gets two zq-tokens keyed by doc_id % 5, both
    // engines identically — natural terms here are ubiquitous, so
    // idf weight and the df cap leave only the planted signal).
    // tfidf pairs: same injection, tf/df/weight/norm/unit/dot chain
    // with decimal sums at the norm and dot stages.
    Query("llm_tfidf_pairs", (s, dir) =>
      Dedup.tfidfCosinePairs(
        table(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" zqtok"),
              (col("doc_id") % 5).cast("string"), lit(" zqext"),
              (col("doc_id") % 5).cast("string")))
            .otherwise(col("text"))),
        minSim = 0.1, maxDf = 50)
        .orderBy(col("id_a"), col("id_b")),
      raw"""WITH src AS (
           SELECT doc_id, CASE WHEN doc_id % 17 = 0
             THEN text || ' zqtok' || CAST(doc_id % 5 AS VARCHAR)
               || ' zqext' || CAST(doc_id % 5 AS VARCHAR)
             ELSE text END AS text
           FROM documents),
         nn AS (SELECT count(*) AS n FROM src),
         tf AS (
           SELECT doc_id AS id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
             FROM src)
           GROUP BY doc_id, t),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         wgt AS (
           SELECT tf.id, tf.term, dft.df,
             tf.tf * ln(CAST(nn.n AS DOUBLE) / dft.df) AS w
           FROM tf JOIN dft USING (term), nn),
         nrm AS (
           SELECT id, sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12)))
             AS DOUBLE)) AS nm
           FROM wgt GROUP BY id),
         unitw AS (
           SELECT wgt.id, wgt.term, round(wgt.w / nrm.nm, 6) AS w
           FROM wgt JOIN nrm USING (id)
           WHERE nrm.nm > 0.0 AND wgt.df <= 50),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,18)))
               AS DOUBLE), 6) AS sim
           FROM unitw a JOIN unitw b
             ON a.term = b.term AND a.id < b.id
           GROUP BY a.id, b.id)
         SELECT id_a, id_b, sim FROM pairs
         WHERE sim >= 0.1 ORDER BY id_a, id_b"""),

    // exact stratified split: per-source md5 rank with floor cut
    // lines — eval sets get exact per-source sizes (the guarantee
    // the shuffle-free content-hash split trades away).
    // stratified split: md5-rank window per source, floor cut lines.
    Query("llm_split_stratified", (s, dir) =>
      Sampling.stratifiedSplit(table(s, dir, "documents"),
          valFrac = 0.1, testFrac = 0.1)
        .orderBy(col("doc_id")),
      raw"""WITH r AS (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY CAST(('0x' || substring(
                 md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
                 doc_id ASC) AS BIGINT) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
           FROM documents)
         SELECT doc_id, source,
           CASE WHEN rk <= floor(n * 0.1) THEN 'test'
                WHEN rk <= floor(n * 0.1) + floor(n * 0.1) THEN 'val'
                ELSE 'train' END AS split
         FROM r ORDER BY doc_id"""),

    // the 100 TB form of the stratified split: per-source approx-
    // quantile hash cuts instead of the rank window, within_band
    // verdict against the exact floor targets (each engine checks
    // its OWN quantile sketch — the llm_len_approx device).
    // approx stratified split replay: DuckDB's own approx_quantile
    // hash cuts per source, the SAME floor targets and band rule —
    // sketch counts never leave either engine, only the verdict.
    Query("llm_split_strat_approx", (s, dir) =>
      Sampling.stratifiedSplitApprox(table(s, dir, "documents"),
          valFrac = 0.1, testFrac = 0.1, tolFrac = 0.05)
        .orderBy(col("source")),
      """WITH b AS (
           SELECT source,
             CAST(CAST(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS DOUBLE) AS h
           FROM documents),
         cuts AS (
           SELECT source,
             CAST(approx_quantile(h, 0.1) AS DOUBLE) AS ct,
             CAST(approx_quantile(h, 0.2) AS DOUBLE) AS cv
           FROM b GROUP BY source),
         agg AS (
           SELECT b.source, count(*) AS n,
             SUM(CASE WHEN b.h <= cuts.ct THEN 1 ELSE 0 END) AS at,
             SUM(CASE WHEN b.h > cuts.ct AND b.h <= cuts.cv
                 THEN 1 ELSE 0 END) AS av
           FROM b JOIN cuts ON cuts.source = b.source
           GROUP BY b.source)
         SELECT source, n,
           CAST(floor(n * 0.1) AS BIGINT) AS test_target,
           CAST(floor(n * 0.1) AS BIGINT) AS val_target,
           CAST(abs(at - floor(n * 0.1)) <= greatest(2.0, n * 0.05)
             AND abs(av - floor(n * 0.1)) <= greatest(2.0, n * 0.05)
             AS INTEGER) AS within_band
         FROM agg ORDER BY source"""),

    // epoch plan: shares x token budget -> per-source epochs and
    // repeat counts (the upsampling complement of reweight_sample).
    // epoch plan: token counts for the three targeted sources, the
    // floored share x budget targets, rounded epochs, ceil repeats.
    Query("llm_epoch_plan", (s, dir) =>
      Mixing.epochPlan(table(s, dir, "documents"),
          weights = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
          targetTokens = 1000000L)
        .orderBy(col("source")),
      raw"""WITH cnt AS (
           SELECT source, CAST(SUM(len(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')))
             AS BIGINT) AS tokens_avail
           FROM documents
           WHERE source IN ('src0', 'src1', 'src2')
           GROUP BY source),
         t AS (
           SELECT source, tokens_avail,
             CAST(floor((CASE source WHEN 'src0' THEN 0.5
               WHEN 'src1' THEN 0.25 ELSE 0.25 END) * 1000000.0)
               AS BIGINT) AS tokens_target
           FROM cnt),
         e AS (
           SELECT source, tokens_avail, tokens_target,
             round(CAST(tokens_target AS DOUBLE) / tokens_avail, 6)
               AS epochs
           FROM t)
         SELECT source, tokens_avail, tokens_target, epochs,
           CAST(ceil(epochs) AS BIGINT) AS n_repeats
         FROM e ORDER BY source"""),

    // deterministic per-epoch shuffle: two epochs of the corpus,
    // each doc's shard + in-shard position — two DIFFERENT
    // reproducible permutations from one pure hash formula (the
    // dataloader-order export, verified positionally).
    // epoch order: the pure permutation formula (32-bit md5 hash of
    // "shuf:<epoch>:<id>") replayed relationally — shard = ord mod
    // nShards, pos = rank in (ord, id) within shard.
    Query("llm_epoch_order", (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id")
      val shuf = Seq(1, 2).map { e =>
        Mixing.epochShuffle(d, epoch = e, nShards = 8)
          .withColumn("epoch", lit(e))
      }.reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("epoch", "shard").orderBy("ord", "doc_id")
      shuf.select(col("epoch"), col("shard"),
          row_number().over(w).as("pos"), col("doc_id"), col("ord"))
        .orderBy("epoch", "shard", "pos")
    },
      raw"""WITH ep AS (
           SELECT 1 AS epoch, doc_id FROM documents
           UNION ALL SELECT 2 AS epoch, doc_id FROM documents),
         e AS (
           SELECT epoch, doc_id,
             CAST('0x' || substring(md5('shuf:' ||
               CAST(epoch AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS ord
           FROM ep)
         SELECT epoch, CAST(ord % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY epoch, ord % 8
             ORDER BY ord, doc_id) AS INTEGER) AS pos,
           doc_id, ord
         FROM e
         ORDER BY epoch, shard, pos"""),

    // curriculum-banded order: the epoch shuffle with a literal
    // quality-threshold band as the leading serve key — band 0
    // (above every threshold) trains first, pseudo-random within.
    // curriculum banding: literal threshold CASE fold (inverted —
    // clearing all three lands band 0) over the same shuffle hash.
    Query("llm_curriculum_order", (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "n_chars")
      val co = Mixing.curriculumOrder(d,
        col("n_chars").cast("double"),
        thresholds = Seq(200.0, 500.0, 1000.0), epoch = 1,
        nShards = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("band", "ord", "doc_id")
      co.select(col("shard"), col("band"),
          row_number().over(w).as("pos"), col("doc_id"), col("ord"))
        .orderBy("shard", "pos")
    },
      raw"""WITH e AS (
           SELECT doc_id,
             CAST('0x' || substring(md5('shuf:1:' ||
               CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS ord,
             3 - ((CASE WHEN CAST(n_chars AS DOUBLE) > 200.0
                     THEN 1 ELSE 0 END)
                + (CASE WHEN CAST(n_chars AS DOUBLE) > 500.0
                     THEN 1 ELSE 0 END)
                + (CASE WHEN CAST(n_chars AS DOUBLE) > 1000.0
                     THEN 1 ELSE 0 END)) AS band
           FROM documents)
         SELECT CAST(ord % 8 AS INTEGER) AS shard, band,
           CAST(row_number() OVER (PARTITION BY ord % 8
             ORDER BY band, ord, doc_id) AS INTEGER) AS pos,
           doc_id, ord
         FROM e ORDER BY shard, pos"""),

    // materialized epoch plan: every (source, pass) with its doc and
    // token mass — full passes below floor(epochs), the fractional
    // final pass thinned by the deterministic tail hash.
    // materialized epoch plan: the llm_epoch_plan arithmetic chained
    // into per-doc pass expansion (range over ceil(epochs)) with the
    // fractional last pass thinned by the "tail:<id>:<pass>" hash.
    Query("llm_epoch_repeats", (s, dir) =>
      Mixing.epochRepeats(table(s, dir, "documents"),
          weights = Map("src0" -> 0.5, "src1" -> 0.25,
            "src2" -> 0.25),
          targetTokens = 100000L)
        .groupBy(col("source"), col("repeat_idx"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
        .orderBy("source", "repeat_idx"),
      raw"""WITH $epochRepeatCtes
         SELECT source, repeat_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens
         FROM k GROUP BY source, repeat_idx
         ORDER BY source, repeat_idx"""),

    // the full training-order export: repeats realized, every
    // instance shuffled/sharded with its pass as the epoch salt —
    // per shard, the mixture a loader worker actually consumes.
    // training order: the repeats chain sharded with the pass as the
    // epoch salt — per shard, instance/doc/token mass.
    Query("llm_training_order", (s, dir) =>
      Mixing.trainingOrder(table(s, dir, "documents"),
          weights = Map("src0" -> 0.5, "src1" -> 0.25,
            "src2" -> 0.25),
          targetTokens = 100000L, nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_instances"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("repeat_idx")).as("max_repeat"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
        .orderBy("shard"),
      raw"""WITH $epochRepeatCtes,
         o AS (
           SELECT doc_id, tok, repeat_idx,
             CAST('0x' || substring(md5('shuf:' ||
               CAST(repeat_idx AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
               AS shard
           FROM k)
         SELECT CAST(shard AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_instances,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MAX(repeat_idx) AS max_repeat,
           CAST(SUM(tok) AS BIGINT) AS n_tokens
         FROM o GROUP BY shard ORDER BY shard"""),

    // the apply step of the reweighting plan: realize the computed
    // target mixture by deterministic md5 thinning (downsample-only
    // rates; the most-under-represented source keeps everything).
    // reweight-sample: the domain_reweight weight CTEs + current
    // shares -> downsample-only rates -> the md5 acceptance filter
    // (the temperature_sample device with caller-supplied targets).
    Query("llm_reweight_sample", (s, dir) => {
      val d = table(s, dir, "documents")
      val w = TextAnalysis.domainReweight(d,
          TextAnalysis.knLmScore(d, d.filter(col("doc_id") % 10 =!= 0)))
        .select(col("source"), col("weight")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      Sampling.mixtureSample(d, w).orderBy(col("doc_id"))
    },
      s"""WITH $knScoreCtes,
         per AS (
           SELECT d.source, count(*) AS n_docs,
             round(-(CAST(SUM(CAST(agg.avg_logprob AS DECIMAL(38,18)))
               AS DOUBLE)) / count(*), 6) AS mean_loss
           FROM agg JOIN documents d ON d.doc_id = agg.doc_id
           GROUP BY d.source),
         mn AS (SELECT min(mean_loss) AS mn FROM per),
         rw AS (
           SELECT source, n_docs,
             1.0 + round(mean_loss - mn.mn, 6) AS raw
           FROM per, mn),
         tot AS (
           SELECT CAST(SUM(CAST(raw AS DECIMAL(38,12))) AS DOUBLE)
             AS tot FROM rw),
         wts AS (
           SELECT source, round(raw / tot.tot, 6) AS weight
           FROM rw, tot),
         cnt AS (SELECT source, count(*) AS n FROM documents
                 GROUP BY source),
         ctot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt),
         rr AS (
           SELECT w.source, w.weight / (cnt.n / ctot.total) AS r
           FROM wts w JOIN cnt USING (source), ctot),
         mx AS (SELECT max(r) AS mr FROM rr),
         rt AS (SELECT source, round(r / mx.mr, 6) AS keep_rate
                FROM rr, mx)
         SELECT d.doc_id, d.source, rt.keep_rate
         FROM documents d JOIN rt USING (source)
         WHERE CAST(CAST(('0x' ||
             substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             AS DOUBLE) < keep_rate * 4294967296.0
         ORDER BY d.doc_id"""),

    // canonical text normalization (NFC + lowercase + whitespace
    // collapse) — the pre-dedup canonicalization kernel.
    // normalization replay; RE2 '\s' is ASCII-whitespace like the
    // kernel's collapse on this corpus.
    Query("llm_norm_text", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("text_norm"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
           trim(regexp_replace(lower(nfc_normalize(text)),
             '\s+', ' ', 'g')) AS text_norm
         FROM documents ORDER BY doc_id"""),

    // accent fold over planted accented spans (every 9th doc), with
    // a changed verdict — the multilingual match canonicalization.
    // secret-scan replay: same injection, same charset gate, same
    // decimal-summed entropy identity, round-6 before the threshold.
    // accent fold: DuckDB's utf8proc strip_accents == the kernel's
    // NFD + mark strip on decomposable accents.
    Query("llm_accent_fold", (s, dir) =>
      table(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 9 === 0,
            concat(col("text"),
              lit(" café naïve São Zürich " +
                "ÀÉÎÕÜ")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          TextAnalysis.accentFold(col("text")).as("text_fold"),
          (TextAnalysis.accentFold(col("text")) =!= col("text"))
            .as("changed"))
        .orderBy(col("doc_id")),
      """WITH injected AS (
           SELECT doc_id, CASE WHEN doc_id % 9 = 0
             THEN text || ' café naïve São Zürich ÀÉÎÕÜ'
             ELSE text END AS text
           FROM documents)
         SELECT doc_id, strip_accents(text) AS text_fold,
           strip_accents(text) <> text AS changed
         FROM injected ORDER BY doc_id"""),

    // per-document top-3 characteristic terms by tf-idf (score rounded
    // to 6 decimals BEFORE ranking; ties break lexicographically).
    // tf-idf replay: identical formula order (tf * ln(N/df), round-6
    // before ranking) so doubles match bit-for-bit.
    Query("llm_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(table(s, dir, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rank")),
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM tok GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
           FROM tf JOIN df USING (term), n)
         SELECT doc_id, rank, term, score FROM (
           SELECT doc_id, term, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term ASC) AS BIGINT) AS rank
           FROM scored)
         WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // sequence packing: every document's offset in the concatenated
    // 2048-token-sequence training stream (bucketed distributed
    // prefix sum; windowed-form equivalence in LlmSpec).
    // NULL-text rows mirror Spark exactly: n_tokens coalesced to 0
    // (regexp_split_to_array(NULL) -> NULL otherwise) and the stream
    // hash ordered NULLS FIRST (Spark asc = nulls first; DuckDB's bare
    // ASC defaults to NULLS LAST).
    Query("llm_pack", (s, dir) =>
      Mixing.packSequences(table(s, dir, "documents"), seqTokens = 2048)
        .select(col("doc_id"), col("n_tokens"), col("token_start"),
          col("pack_id"), col("pack_offset"))
        .orderBy(col("doc_id")),
      s"""WITH t AS (
           SELECT doc_id,
             CAST(coalesce(len(list_filter(
               regexp_split_to_array(text, '\\s+'),
               x -> x <> '')), 0) AS BIGINT) AS n_tokens,
             ${h32Sql("text")} AS h
           FROM documents),
         s AS (
           SELECT doc_id, n_tokens,
             CAST(coalesce(SUM(n_tokens) OVER (
               ORDER BY h ASC NULLS FIRST, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_start
           FROM t)
         SELECT doc_id, n_tokens, token_start,
           token_start // 2048 AS pack_id,
           token_start % 2048 AS pack_offset
         FROM s ORDER BY doc_id"""),

    // padded (non-splitting) packing: docs never cross boundaries —
    // the clean-attention-mask mode; waste is the padding.
    // padded packing: per-bucket sequential first-fit walk as a
    // recursive CTE (recursion advances one rank per step across all
    // 16 buckets in parallel), bucket footprints padded to a
    // boundary, driver-prefix replayed as a window over footprints.
    Query("llm_pack_padded", (s, dir) =>
      Mixing.packPadded(table(s, dir, "documents"), seqTokens = 2048,
          nBuckets = 16)
        .orderBy(col("doc_id")),
      s"""WITH RECURSIVE t AS (
           SELECT doc_id,
             CAST(coalesce(len(list_filter(
               regexp_split_to_array(text, '\\s+'),
               x -> x <> '')), 0) AS BIGINT) AS nt,
             ${h32Sql("text")} AS h
           FROM documents),
         r AS (
           SELECT doc_id, nt, h, h // 268435456 AS b,
             row_number() OVER (PARTITION BY h // 268435456
               ORDER BY h, doc_id) AS rn
           FROM t),
         walk(b, rn, doc_id, nt, start_off, free) AS (
           SELECT b, rn, doc_id, nt, CAST(0 AS BIGINT),
             CASE WHEN nt > 2048
               THEN ((nt + 2047) // 2048) * 2048 ELSE nt END
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.b, r.rn, r.doc_id, r.nt,
             CASE WHEN r.nt > 2048
                    THEN ((w.free + 2047) // 2048) * 2048
                  WHEN (w.free % 2048) + r.nt > 2048
                    THEN ((w.free + 2047) // 2048) * 2048
                  ELSE w.free END,
             CASE WHEN r.nt > 2048
               THEN ((((CASE WHEN r.nt > 2048
                          THEN ((w.free + 2047) // 2048) * 2048
                        WHEN (w.free % 2048) + r.nt > 2048
                          THEN ((w.free + 2047) // 2048) * 2048
                        ELSE w.free END) + r.nt) + 2047) // 2048)
                 * 2048
               ELSE (CASE WHEN r.nt > 2048
                       THEN ((w.free + 2047) // 2048) * 2048
                     WHEN (w.free % 2048) + r.nt > 2048
                       THEN ((w.free + 2047) // 2048) * 2048
                     ELSE w.free END) + r.nt END
           FROM walk w JOIN r ON r.b = w.b AND r.rn = w.rn + 1),
         fp AS (
           SELECT b, ((max(free) + 2047) // 2048) * 2048 AS bsize
           FROM walk GROUP BY b),
         bases AS (
           SELECT b, CAST(coalesce(SUM(bsize) OVER (
             ORDER BY b ASC ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS base
           FROM fp)
         SELECT w.doc_id, w.nt AS n_tokens,
           CAST(bases.base + w.start_off AS BIGINT) AS token_start,
           (bases.base + w.start_off) // 2048 AS pack_id,
           (bases.base + w.start_off) % 2048 AS pack_offset
         FROM walk w JOIN bases ON bases.b = w.b
         ORDER BY w.doc_id"""),

    // packing report: per pack, docs starting there and the
    // boundary-spill count — the cross-pack-attention gauge.
    // pack report: the proven llm_pack CTEs + the per-pack rollup.
    Query("llm_pack_report", (s, dir) =>
      Mixing.packReport(
        Mixing.packSequences(table(s, dir, "documents"),
          seqTokens = 2048), seqTokens = 2048)
        .orderBy(col("pack_id")),
      s"""WITH t AS (
           SELECT doc_id,
             CAST(coalesce(len(list_filter(
               regexp_split_to_array(text, '\\s+'),
               x -> x <> '')), 0) AS BIGINT) AS n_tokens,
             ${h32Sql("text")} AS h
           FROM documents),
         s AS (
           SELECT doc_id, n_tokens,
             CAST(coalesce(SUM(n_tokens) OVER (
               ORDER BY h ASC NULLS FIRST, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_start
           FROM t),
         p AS (
           SELECT token_start // 2048 AS pack_id,
             token_start % 2048 AS pack_offset, n_tokens
           FROM s)
         SELECT pack_id, count(*) AS n_docs,
           CAST(SUM(CASE WHEN pack_offset + n_tokens > 2048
             THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_started
         FROM p GROUP BY pack_id ORDER BY pack_id"""),

    // end-to-end curation pipeline: quality gate -> corpus-wide
    // repeated-passage removal -> exact dedup of the cleaned text ->
    // deterministic split. Each stage is green on its own oracle; this
    // row proves they COMPOSE (the oracle replays the chain as one CTE
    // pipeline). Stage order is the production order: cheap narrow
    // filters first, the two shuffling dedups on the survivors only.
    // whole-chain replay of the curation pipeline; each CTE is the
    // already-proven oracle fragment of its stage.
    Query("llm_curation_pipeline", (s, dir) => {
      curationChain(table(s, dir, "documents"))
        .select(col("doc_id"),
          Sampling.splitColumn(col("text_clean"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"),
          TextAnalysis.tokenCount(col("text_clean")).cast("long")
            .as("n_tokens_clean"))
        .orderBy(col("doc_id"))
    },
      raw"""WITH $curationCtes
         SELECT doc_id,
           CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(list_filter(regexp_split_to_array(text_clean, '\s+'),
             t -> t <> '')) AS BIGINT) AS n_tokens_clean
         FROM (SELECT doc_id, text_clean,
                 CAST(('0x' || substring(md5(text_clean), 1, 8)) AS BIGINT)
                   % 100 AS h
               FROM dedup)
         ORDER BY doc_id"""),

    // curation -> packing composition: the cleaned, deduped corpus
    // materialized ONCE through the engine's content-addressed Memo
    // (the curation chain runs a single time; packing's two passes
    // re-read the cached parquet instead of recomputing 4 upstream
    // stages), then packed as fixed-length training sequences. The
    // memo is cleared first so every run measures one honest
    // compute+write — CROSS-run cache hits are q20_cached_rerun's
    // row, not this one.
    // curation -> pack replay: the proven curation CTE chain up to
    // `dedup`, then the proven llm_pack CTEs over text_clean.
    Query("llm_pack_curated", (s, dir) => {
      import graft.model.{Usage, VPath, VirtualFile}
      import graft.task.PTask
      val scratch = freshScratch("llmpc", dir)
      val m = graft.loc.Mappings(Map(VPath("/documents") ->
        graft.loc.MappingRhs.Layers(Seq(
          graft.loc.LocTemplate(s"$dir/documents.parquet")))))
      val src = VirtualFile(VPath("/documents"), Seq("parquet"),
        Usage.Source)
      val t = graft.access.Access.getDataReader(src) >>>
        PTask.cachedTask[graft.access.Access.DataReader]("llm_curated_v1",
          (ctx, r) => r.paths ++ r.paths.map(ctx.cache.get.fingerprint)) {
          (_, r) => curationChain(r.read())
        }
      val curated = graft.Pipeline.run(s, t, m, (),
        cacheRoot = Some(s"$scratch/memo"))
      Mixing.packSequences(curated, seqTokens = 2048,
          textCol = "text_clean")
        .select(col("doc_id"), col("n_tokens"), col("token_start"),
          col("pack_id"), col("pack_offset"))
        .orderBy(col("doc_id"))
    },
      raw"""WITH $curationCtes,
         t AS (
           SELECT doc_id,
             CAST(coalesce(len(list_filter(
               regexp_split_to_array(text_clean, '\s+'),
               x -> x <> '')), 0) AS BIGINT) AS n_tokens,
             CAST(('0x' || substring(md5(text_clean), 1, 8)) AS BIGINT)
               AS h
           FROM dedup),
         s AS (
           SELECT doc_id, n_tokens,
             CAST(coalesce(SUM(n_tokens) OVER (
               ORDER BY h ASC NULLS FIRST, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_start
           FROM t)
         SELECT doc_id, n_tokens, token_start,
           token_start // 2048 AS pack_id,
           token_start % 2048 AS pack_offset
         FROM s ORDER BY doc_id"""),

    // CCNet-style perplexity tiers: per-language ntile(3) over the
    // bigram-LM score — bucket 1 = head (most corpus-typical).
    // perplexity-tier replay: the llm_lm_score chain, then the same
    // ntile window (score DESC round-6, id tie-break) per language.
    Query("llm_ppl_buckets", (s, dir) =>
      TextAnalysis.pplBucketsScored(table(s, dir, "documents"),
          lmScore05(s, dir), nBuckets = 3)
        .orderBy(col("doc_id")),
      s"""WITH $bigramScoreCtes
         SELECT d.doc_id, d.lang, sc.avg_logprob,
           CAST(ntile(3) OVER (PARTITION BY d.lang
             ORDER BY sc.avg_logprob DESC, d.doc_id ASC) AS BIGINT)
             AS ppl_bucket
         FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         ORDER BY d.doc_id"""),

    // RAG sliding-window chunking: 12-token windows every 8 tokens
    // (4-token overlap) with 1-based token offsets back into the doc.
    // sliding-window replay: starts at i*8 while < n_tokens; DuckDB
    // list slices clamp at len like Spark's slice().
    Query("llm_rag_chunks", (s, dir) =>
      Mixing.slidingChunks(table(s, dir, "documents"),
          chunkTokens = 12, overlap = 4)
        .orderBy(col("doc_id"), col("chunk_idx")),
      s"""WITH $docTokCte,
         w AS (
           SELECT doc_id, i AS chunk_idx,
             tk[i*8+1 : i*8+12] AS c
           FROM tok, unnest(generate_series(0, (len(tk)-1)//8)) AS u(i)
           WHERE len(tk) > 0)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx*8+1 AS BIGINT) AS tok_start,
           CAST(len(c) AS BIGINT) AS n_tok,
           array_to_string(c, ' ') AS chunk_text
         FROM w ORDER BY doc_id, chunk_idx"""),

    // contrastive hard negatives: per anchor (vec_id % 100 = 0), the
    // 3 most-similar vectors with a DIFFERENT label.
    // hard-negative replay: llm_topk's cosine arithmetic plus the
    // label inequality inside the scored set.
    Query("llm_hard_negatives", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"),
          col("label").as("query_label"))
      Similarity.hardNegatives(emb, anchors, k = 3)
        .orderBy(col("query_id"), col("rank"))
    },
      bruteTopKOracle(k = 3, pairWhere = "a.label <> b.label")),

    // per-label embedding diversity: mean pairwise cosine from the
    // normalized-sum identity — no pair loop at any corpus size.
    // diversity replay: same normalize, same decimal-exact per-dim
    // sums, same (S2 - sumsq) / (n(n-1)) identity.
    Query("llm_label_diversity", (s, dir) =>
      Similarity.labelDiversity(table(s, dir, "embeddings"))
        .orderBy(col("label")),
      """WITH u AS (
           SELECT label, list_transform(embedding, x ->
             CASE WHEN sqrt(list_sum(list_transform(embedding,
                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) > 0
               THEN CAST(x AS DOUBLE)
                 / sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
               ELSE CAST(x AS DOUBLE) END) AS uv
           FROM embeddings),
         ud AS (
           SELECT label, i AS d, uv[i] AS x
           FROM u, unnest(generate_series(1, len(uv))) AS g(i)),
         s AS (
           SELECT label, d,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS s
           FROM ud GROUP BY label, d),
         s2 AS (
           SELECT label,
             CAST(SUM(CAST(s * s AS DECIMAL(38,12))) AS DOUBLE) AS s2
           FROM s GROUP BY label),
         sq AS (
           SELECT label, count(*) AS n,
             CAST(SUM(CAST(list_sum(list_transform(uv, x -> x * x))
               AS DECIMAL(38,12))) AS DOUBLE) AS sumsq
           FROM u GROUP BY label)
         SELECT s2.label, sq.n,
           CASE WHEN sq.n > 1 THEN
             round((s2.s2 - sq.sumsq) /
               (CAST(sq.n AS DOUBLE) * (CAST(sq.n AS DOUBLE) - 1.0)), 6)
           ELSE NULL END AS mean_pair_cosine
         FROM s2 JOIN sq ON s2.label = sq.label
         ORDER BY s2.label"""),

    // DSIR importance weights: raw corpus (doc_id % 10 != 0) scored
    // against the benchmark slice (doc_id % 10 = 0) as target —
    // hashed unigram+bigram features, add-1 smoothed log-ratios.
    // DSIR replay: same bucket hash (md5 h32 % 1024), same smoothing
    // and formula order, decimal log-ratio sum.
    Query("llm_dsir", (s, dir) => {
      val docs = table(s, dir, "documents")
      Sampling.dsirWeights(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), buckets = 1024)
        .orderBy(col("doc_id"))
    },
      s"""WITH $dsirCtes
         SELECT doc_id, count(*) AS n_grams,
           round(CAST(sum(CAST(lr AS DECIMAL(38,18))) AS DOUBLE), 6)
             AS dsir_weight
         FROM rawi JOIN lr USING (b)
         GROUP BY doc_id ORDER BY doc_id"""),

    // DSIR weights -> Gumbel-top-k selection: the 50 docs sampled
    // ∝ exp(weight), deterministically (md5 uniform, Gumbel-max).
    // DSIR + Gumbel-max replay: same weight chain, same md5 uniform
    // u = (h32+1)/2^32+1, key = round(w - ln(-ln u), 6), top-50.
    Query("llm_dsir_sample", (s, dir) => {
      val docs = table(s, dir, "documents")
      val w = Sampling.dsirWeights(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), buckets = 1024)
      Sampling.gumbelTopK(w, col("dsir_weight"), k = 50)
        .select(col("doc_id"), col("dsir_weight"), col("gumbel_key"))
        .orderBy(col("gumbel_key").desc, col("doc_id"))
    },
      s"""WITH $dsirCtes,
         wsel AS (
           SELECT doc_id,
             round(CAST(sum(CAST(lr AS DECIMAL(38,18))) AS DOUBLE), 6)
               AS dsir_weight
           FROM rawi JOIN lr USING (b) GROUP BY doc_id)
         SELECT doc_id, dsir_weight,
           round(dsir_weight + (-ln(-ln(
             (CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                1, 8)) AS BIGINT) AS DOUBLE) + 1.0) / 4294967297.0))), 6)
             AS gumbel_key
         FROM wsel
         ORDER BY gumbel_key DESC, doc_id LIMIT 50"""),

    // top collocations by PMI (count >= 5): multi-word units worth
    // protecting from tokenization.
    // PMI replay: same count tables, same division order
    // ((c12/N2) / ((c1/N1)(c2/N1))), round-6 before ranking.
    Query("llm_pmi", (s, dir) =>
      TextAnalysis.pmiTopPairs(table(s, dir, "documents"), k = 30,
          minCount = 5)
        .orderBy(col("rank")),
      s"""WITH $docTokCte,
         inst AS (
           SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i])) AS w1,
             unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i+1])) AS w2
           FROM tok WHERE len(tk) >= 2),
         uni AS (SELECT w, count(*) AS cu FROM (
             SELECT unnest(tk) AS w FROM tok) GROUP BY w),
         n1t AS (SELECT CAST(sum(cu) AS DOUBLE) AS n1t FROM uni),
         n2t AS (SELECT CAST(count(*) AS DOUBLE) AS n2t FROM inst),
         bi AS (SELECT w1, w2, count(*) AS c12 FROM inst
                GROUP BY w1, w2 HAVING count(*) >= 5),
         scored AS (
           SELECT w1, w2, c12,
             round(ln((CAST(c12 AS DOUBLE) / n2t) /
               ((CAST(u1.cu AS DOUBLE) / n1t) *
                (CAST(u2.cu AS DOUBLE) / n1t))), 6) AS pmi
           FROM bi
           JOIN uni u1 ON u1.w = bi.w1
           JOIN uni u2 ON u2.w = bi.w2, n1t, n2t)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC,
             w2 ASC) AS BIGINT) AS rank,
           w1, w2, c12, pmi
         FROM scored
         ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 30"""),

    // approximate distincts (HLL++, rsd=0.02): THE scale path for
    // cardinality stats. The raw estimate is engine-specific (not
    // SQL-replayable bit-for-bit), so the hash-checked contract is the
    // VERDICT: within_band = |approx - exact| / exact < 0.1, computed
    // from each engine's own HLL sketch against its own exact count —
    // both engines' defaults are ~2% rsd, so the 10% band is a hard
    // pass/fail on sketch sanity, not a flaky tolerance. The exact
    // column doubles as the verification anchor; at 100 TB a
    // deployment drops it and keeps only the sketch. Tighter
    // (<10%-error at rsd=0.02) accuracy asserted in LlmSpec.
    // the sketch estimate itself is engine-specific; the replay checks
    // the VERDICT — DuckDB's own HLL vs DuckDB's exact inside the same
    // 10% band the Spark side applies to its own sketch.
    Query("llm_approx_stats", (s, dir) =>
      table(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct(col("token")).as("vocab_exact"),
          approx_count_distinct(col("token"), rsd = 0.02).as("approx"))
        .select(col("source"), col("n_tokens"), col("vocab_exact"),
          (abs(col("approx") - col("vocab_exact")) /
            col("vocab_exact") < 0.1).cast("int").as("within_band"))
        .orderBy(col("source")),
      hllVerdictOracle("vocab_exact",
        "/ count(DISTINCT token) < 0.1")),

    // per-language token-length quantiles (EXACT percentile_cont
    // interpolation, not approx — bit-replayable): the length-
    // distribution health check of a curation run. At 100 TB swap in
    // approx_percentile; the exact form is the oracle-able contract.
    // exact-percentile replay: quantile_cont is the same
    // percentile_cont interpolation (h = p*(n-1), linear) as Spark's
    // percentile; token counts via the standard split+filter.
    Query("llm_len_quantiles", (s, dir) =>
      table(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.textStats(col("text")).getField("n_tokens")
            .cast("double").as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_tok, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tok, 0.9)"), 6).as("p90"),
          round(expr("percentile(n_tok, 0.99)"), 6).as("p99"))
        .orderBy(col("lang")),
      """WITH tok AS (
           SELECT lang, CAST(len(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> ''))
             AS DOUBLE) AS n_tok
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           round(quantile_cont(n_tok, 0.5), 6) AS p50,
           round(quantile_cont(n_tok, 0.9), 6) AS p90,
           round(quantile_cont(n_tok, 0.99), 6) AS p99
         FROM tok GROUP BY lang ORDER BY lang"""),

    // approx-quantile verdict (same shape as llm_approx_stats): each
    // engine checks ITS OWN mergeable quantile sketch (Spark
    // approx_percentile, DuckDB t-digest) against the exact
    // interpolated percentile; the hash compares exact values + the
    // within_band boolean, never raw sketch output. The sketch is the
    // 100 TB scale path — exact percentile is a full sort per group.
    // approx-quantile verdict: DuckDB's own t-digest checked against
    // its exact quantile_cont; only exact values + verdict are hashed.
    Query("llm_len_approx", (s, dir) =>
      table(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.textStats(col("text")).getField("n_tokens")
            .cast("double").as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_tok, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tok, 0.9)"), 6).as("p90"),
          round(expr("percentile(n_tok, 0.99)"), 6).as("p99"),
          expr("approx_percentile(n_tok, array(0.5D, 0.9D, 0.99D), " +
            "10000)").as("_ap"))
        .select(col("lang"), col("n_docs"), col("p50"), col("p90"),
          col("p99"),
          // multiplied-out band (|a - p| <= 0.05 p): no division, so
          // a degenerate all-zero percentile stays engine-consistent
          // (a/0 is NULL in Spark but NaN in IEEE engines)
          ((abs(col("_ap")(0) - col("p50")) <= col("p50") * 0.05) &&
           (abs(col("_ap")(1) - col("p90")) <= col("p90") * 0.05) &&
           (abs(col("_ap")(2) - col("p99")) <= col("p99") * 0.05))
            .cast("int").as("within_band"))
        .orderBy(col("lang")),
      raw"""WITH tok AS (
           SELECT lang, CAST(len(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> ''))
             AS DOUBLE) AS n_tok
           FROM documents),
         agg AS (
           SELECT lang, count(*) AS n_docs,
             round(quantile_cont(n_tok, 0.5), 6) AS p50,
             round(quantile_cont(n_tok, 0.9), 6) AS p90,
             round(quantile_cont(n_tok, 0.99), 6) AS p99,
             CAST(approx_quantile(n_tok, 0.5) AS DOUBLE) AS a50,
             CAST(approx_quantile(n_tok, 0.9) AS DOUBLE) AS a90,
             CAST(approx_quantile(n_tok, 0.99) AS DOUBLE) AS a99
           FROM tok GROUP BY lang)
         SELECT lang, n_docs, p50, p90, p99,
           CAST(abs(a50 - p50) <= p50 * 0.05
                AND abs(a90 - p90) <= p90 * 0.05
                AND abs(a99 - p99) <= p99 * 0.05 AS INTEGER)
             AS within_band
         FROM agg ORDER BY lang"""),

    // per-source n-gram diversity at n=1,2,3: the self-repetition /
    // templated-content gauge (distinct windows over total windows).
    // n-gram diversity replay: md5-60 window hashes per n (the
    // rare_ngrams device), distinct/total ratio per (source, n).
    Query("llm_ngram_diversity", (s, dir) =>
      TextAnalysis.ngramDiversity(table(s, dir, "documents"))
        .orderBy(col("source"), col("n")),
      raw"""WITH tok AS (
           SELECT source, list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
           FROM documents),
         ns(n) AS (VALUES (1), (2), (3)),
         g AS (
           SELECT source, n, unnest(list_transform(
             generate_series(1, len(tk) - n + 1),
             i -> CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+n-1], ' ')), 1, 15))
               AS BIGINT))) AS h
           FROM tok, ns WHERE len(tk) >= n)
         SELECT source, CAST(n AS INTEGER) AS n, count(*) AS n_total,
           count(DISTINCT h) AS n_distinct,
           round(CAST(count(DISTINCT h) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 6) AS diversity
         FROM g GROUP BY source, n ORDER BY source, n"""),

    // HLL approx-distinct verdict (the llm_len_approx device applied
    // to cardinality): per source, exact distinct token count
    // checked against each engine's own HLL sketch
    // (approx_count_distinct at rsd 0.01 / DuckDB's HLL) with a 5%
    // band; the hash covers exact values + the verdict only. The
    // sketch is the 100 TB path — one pass, mergeable, no
    // count-distinct expand over the token shuffle.
    // HLL verdict: DuckDB's own approx_count_distinct checked against
    // its exact count(DISTINCT); only exact values + verdict hashed.
    Query("llm_distinct_approx", (s, dir) =>
      table(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_distinct"),
          approx_count_distinct(col("token"), 0.01).as("_ad"))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          (abs(col("_ad") - col("n_distinct")) <=
            col("n_distinct").cast("double") * 0.05)
            .cast("int").as("within_band"))
        .orderBy(col("source")),
      hllVerdictOracle("n_distinct",
        "<= count(DISTINCT token) * 0.05")),

    // temperature-balanced source mix: alpha=0.6 flattening, smallest
    // source keeps all, dominant sources thinned by the md5-id gate.
    // The testdata's sources are uniform, so a deterministic skew
    // filter first makes src0/src1 ~3x dominant — the thinning path
    // is what the oracle checks, not a degenerate all-rates-1 mix.
    // temperature-mix replay: identical rate formula and division
    // order ((n/total)/(nmin/total), pow, round-6), md5-id gate.
    Query("llm_temperature_sample", (s, dir) =>
      Sampling.temperatureSample(
          table(s, dir, "documents").filter(col("doc_id") % 3 === 0 ||
            col("source").isin("src0", "src1")),
          alpha = 0.6)
        .orderBy(col("doc_id")),
      """WITH sk AS (
           SELECT doc_id, source FROM documents
           WHERE doc_id % 3 = 0 OR source IN ('src0', 'src1')),
         cnt AS (
           SELECT source, count(*) AS n FROM sk GROUP BY source),
         tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
                        CAST(min(n) AS DOUBLE) AS nmin FROM cnt),
         rt AS (SELECT source,
             round(pow(n / total / (nmin / total), 0.6 - 1.0), 6)
               AS keep_rate
           FROM cnt, tot)
         SELECT d.doc_id, d.source, rt.keep_rate
         FROM sk d JOIN rt USING (source)
         WHERE CAST(CAST(('0x' ||
             substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             AS DOUBLE) < keep_rate * 4294967296.0
         ORDER BY d.doc_id"""),

    // distilled gate classifier: 8 full-batch GD rounds (1/t decay)
    // of a linear model over signed-presence hash features + bias,
    // teacher = the blocklist-style gate "contains token 'spark'" —
    // the standard distillation of a hard rule into a soft score.
    // Integer features, decimal-exact logit/gradient sums, rational
    // sigmoid (pure IEEE ops): the whole training trajectory replays
    // bit-identically in SQL. 8 rounds here (the gate separates by
    // round ~4; the bench face should not pay scheduling floor x 16
    // — llm_gate_threshold proved the device at 4); the default
    // 16-round form stays spec-covered in LlmSpec. (The corpus's
    // lang column is NOT learnable from text by construction — all
    // five languages share one vocabulary — so the teacher is a
    // content-derived gate.)
    Query("llm_quality_clf", (s, dir) =>
      TextAnalysis.qualityClassifier(table(s, dir, "documents"),
          array_contains(TextAnalysis.tokens(col("text")), "spark"),
          rounds = 8)
        .orderBy(col("doc_id")),
      qualityClfOracle(rounds = 8, lr = 32.0)),

    // the gate's operating point: the full precision/recall/F1 sweep
    // over every distinct score of the 8-round gate — threshold
    // selection instead of the arbitrary 0.5 cut.
    // threshold-sweep replay: the scored chain as a subquery, then
    // per-distinct-score counts, the descending cumulative window
    // (scores are distinct — RANGE == ROWS), exact-int tp/fp/fn and
    // the same round-6 ratio arithmetic.
    Query("llm_gate_threshold", (s, dir) =>
      TextAnalysis.gateThresholdSweep(
          TextAnalysis.qualityClassifier(table(s, dir, "documents"),
            array_contains(TextAnalysis.tokens(col("text")), "spark"),
            rounds = 4))
        .orderBy(col("threshold").desc),
      {
      val inner = qualityClfOracle(rounds = 4, lr = 32.0)
      s"""WITH gsc AS (
           SELECT doc_id, label, score FROM ($inner)),
         per AS (
           SELECT score, CAST(SUM(label) AS BIGINT) AS p,
             CAST(COUNT(*) - SUM(label) AS BIGINT) AS n
           FROM gsc GROUP BY score),
         tot AS (SELECT CAST(SUM(label) AS BIGINT) AS tp_all FROM gsc),
         cum AS (
           SELECT score,
             CAST(SUM(p) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
             CAST(SUM(n) OVER (ORDER BY score DESC) AS BIGINT) AS fp
           FROM per)
         SELECT score AS threshold, tp, fp,
           (tot.tp_all - tp) AS fn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS prec,
           round(CAST(tp AS DOUBLE) / tot.tp_all, 6) AS rec,
           round(2.0 * tp / (2.0 * tp + fp + (tot.tp_all - tp)), 6)
             AS f1
         FROM cum, tot ORDER BY threshold DESC"""
    }),

    // the deployed split: fit the gate on the EVEN half (the labeled
    // slice), export the weights, score the WHOLE corpus — training
    // never sees the odd half, and the scoring pass is one feature
    // projection + a dim-bounded literal dot product.
    // held-out replay: the same 16-round chain with gradients and N
    // restricted to the even half, scoring joined over ALL docs.
    Query("llm_quality_gate_apply", (s, dir) => {
      val docs = table(s, dir, "documents")
      val w = TextAnalysis.trainLinearGate(
        docs.filter(col("doc_id") % 2 === 0),
        array_contains(TextAnalysis.tokens(col("text")), "spark"),
        rounds = 8)
      TextAnalysis.applyLinearGate(docs, w).orderBy(col("doc_id"))
    },
      qualityClfOracle(rounds = 8,
      lr = 32.0, trainWhere = "doc_id % 2 = 0", withLabel = false)),

    // per-doc language assignment (the materialized form of
    // llm_langid's aggregate): the column a curation pipeline
    // actually joins on.
    // per-doc replay of the llm_langid marker argmax (struct max:
    // hits first, then language name — ties to the last lang, 'und'
    // on zero hits), keyed by doc id.
    Query("llm_langid_docs", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
      raw"""WITH scored AS (
           SELECT doc_id, tnull, ${langBestSql("toks")}
           FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS toks, text IS NULL AS tnull
                 FROM documents))
         SELECT doc_id,
           CASE WHEN tnull THEN NULL
                WHEN best.hits > 0 THEN best.lang
                ELSE 'und' END AS lang_pred
         FROM scored ORDER BY doc_id"""),

    // cross-source redundancy matrix: Jaccard of distinct 3-shingle
    // sets per source pair (60-bit window hashes; md5 family under
    // Verify so the oracle replays the hash set exactly).
    // source-overlap replay: distinct md5-60 window hashes per
    // source, pairwise intersection via self-join, Jaccard round-6.
    Query("llm_source_overlap", (s, dir) =>
      Dedup.sourceOverlap(table(s, dir, "documents"), n = 3)
        .orderBy(col("src_a"), col("src_b")),
      raw"""WITH tok AS (
           SELECT source, list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
           FROM documents),
         sh AS (
           SELECT DISTINCT source, unnest(list_transform(
             generate_series(1, len(tk) - 2),
             i -> CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+2], ' ')), 1, 15)) AS BIGINT)))
             AS h
           FROM tok WHERE len(tk) >= 3),
         sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         it AS (
           SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS n_common
           FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, sa.n AS n_a, sb.n AS n_b,
           CAST(coalesce(it.n_common, 0) AS BIGINT) AS n_common,
           round(CAST(coalesce(it.n_common, 0) AS DOUBLE) /
             CAST(sa.n + sb.n - coalesce(it.n_common, 0) AS DOUBLE), 6)
             AS jaccard,
           round(CAST(coalesce(it.n_common, 0) AS DOUBLE) /
             CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
         FROM (SELECT a.source AS src_a, b.source AS src_b
               FROM sz a JOIN sz b ON a.source < b.source) p
         JOIN sz sa ON sa.source = p.src_a
         JOIN sz sb ON sb.source = p.src_b
         LEFT JOIN it ON it.src_a = p.src_a AND it.src_b = p.src_b
         ORDER BY p.src_a, p.src_b"""),

    // lexical-diversity signal pack: TTR, top-token mass, word/char
    // unigram entropy per doc (the gibberish/boilerplate gate).
    // signal-pack replay: same ln n - (sum c ln c)/n entropy identity,
    // decimal term sums, chars via per-position substring (whitespace
    // excluded from the alphabet).
    Query("llm_quality_signals", (s, dir) =>
      TextAnalysis.qualitySignals(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      raw"""WITH tok AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
           FROM documents),
         wtf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
         w AS (
           SELECT doc_id, SUM(c) AS n, count(*) AS u, MAX(c) AS mx,
             CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE) AS sclnc
           FROM wtf GROUP BY doc_id),
         chs AS (
           SELECT doc_id, unnest(list_filter(list_transform(
             generate_series(1, length(text)),
             i -> substring(text, i, 1)), ch -> ch <> ' ')) AS t
           FROM documents),
         ctf AS (SELECT doc_id, t, count(*) AS c FROM chs GROUP BY 1, 2),
         ce AS (
           SELECT doc_id,
             round(ln(CAST(SUM(c) AS DOUBLE)) -
               CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                 AS DECIMAL(38,18))) AS DOUBLE) /
               CAST(SUM(c) AS DOUBLE), 6) AS char_entropy
           FROM ctf GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(w.n, 0) AS BIGINT) AS n_tokens,
           coalesce(round(CAST(w.u AS DOUBLE) / CAST(w.n AS DOUBLE), 6),
             0.0) AS ttr,
           coalesce(round(CAST(w.mx AS DOUBLE) / CAST(w.n AS DOUBLE), 6),
             0.0) AS top_token_frac,
           coalesce(round(ln(CAST(w.n AS DOUBLE)) -
             w.sclnc / CAST(w.n AS DOUBLE), 6), 0.0) AS token_entropy,
           coalesce(ce.char_entropy, 0.0) AS char_entropy
         FROM documents d
         LEFT JOIN w USING (doc_id) LEFT JOIN ce USING (doc_id)
         ORDER BY d.doc_id"""),

    // per-source corpus card: the one-row-per-source datasheet
    // (volume, exact-dup fraction, mean diversity signals).
    // source-card replay: the quality-signals per-doc word fragment,
    // value-distinct dup fraction, decimal-exact averages.
    Query("llm_source_card", (s, dir) =>
      TextAnalysis.sourceCard(table(s, dir, "documents"))
        .orderBy(col("source")),
      raw"""WITH tok AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
           FROM documents),
         wtf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
         w AS (
           SELECT doc_id, SUM(c) AS n, count(*) AS u,
             CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE) AS sclnc
           FROM wtf GROUP BY doc_id),
         per AS (
           SELECT d.doc_id, d.source, d.text,
             CAST(coalesce(w.n, 0) AS BIGINT) AS n,
             coalesce(round(CAST(w.u AS DOUBLE) / CAST(w.n AS DOUBLE),
               6), 0.0) AS ttr,
             coalesce(round(ln(CAST(w.n AS DOUBLE)) -
               w.sclnc / CAST(w.n AS DOUBLE), 6), 0.0) AS ent
           FROM documents d LEFT JOIN w USING (doc_id))
         SELECT source, count(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           round(1.0 - CAST(count(DISTINCT text) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 6) AS dup_frac,
           round(CAST(SUM(CAST(ttr AS DECIMAL(38,18))) AS DOUBLE) /
             count(*), 6) AS avg_ttr,
           round(CAST(SUM(CAST(ent AS DECIMAL(38,18))) AS DOUBLE) /
             count(*), 6) AS avg_token_entropy
         FROM per GROUP BY source ORDER BY source"""),

    // model-based langid: multinomial Naive Bayes self-trained on the
    // labeled corpus, emitted as the (lang, pred_lang, n_docs)
    // confusion matrix — training and scoring are ONE relational
    // plan, replayed exactly by the oracle.
    // Naive-Bayes langid replay: identical formula tree — dense
    // vocab x label likelihood table (alpha floor via left-join
    // coalesce), decimal-cast per-doc sum, round-6 + label tiebreak
    // argmax, confusion-matrix aggregate.
    // sparse-model replay: only SEEN (label, token) pairs carry a
    // likelihood delta above the per-label smoothed floor; the score
    // reassembles as prior + T*floor + sum(tf*dll) — algebraically
    // the dense sum, never materializing vocab x labels.
    Query("llm_nb_langid", (s, dir) =>
      TextAnalysis.nbLangIdConfusion(table(s, dir, "documents"))
        .orderBy(col("lang"), col("pred_lang")),
      raw"""WITH $nbScoreCtes,
         best AS (
           SELECT doc_id, pred_lang,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, pred_lang) AS rn
           FROM sc)
         SELECT d.lang, b.pred_lang, count(*) AS n_docs
         FROM best b JOIN documents d USING (doc_id)
         WHERE b.rn = 1
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // calibration of the REAL classifier: NB softmax confidence vs
    // actual correctness against the doc's own tag, through the
    // generic calibrationReport — the is-the-filter-lying gauge for
    // a classifier-based data gate.
    // NB calibration replay: the same per-(doc,label) rounded score
    // table, softmax confidence 1/Σexp(score−max) with decimal-cast
    // terms (order-free), correctness vs the doc's own tag, then the
    // calibrationReport bin/rounding order.
    Query("llm_nb_calibration", (s, dir) => {
      val d = table(s, dir, "documents")
      val scored = TextAnalysis.nbLangId(d, d,
        carryCols = Seq("lang"), withConfidence = true)
      graft.functions.Profile.calibrationReport(
          scored.select(col("confidence"),
            (col("pred_lang") === col("lang")).as("_y")),
          "confidence", "_y", bins = 10)
        .orderBy(col("bin"))
    },
      raw"""WITH $nbScoreCtes,
         mx AS (SELECT doc_id, max(score) AS mx FROM sc
                GROUP BY doc_id),
         confd AS (
           SELECT sc.doc_id,
             round(1.0 / CAST(SUM(CAST(exp(sc.score - mx.mx)
               AS DECIMAL(38,18))) AS DOUBLE), 6) AS p
           FROM sc JOIN mx USING (doc_id) GROUP BY sc.doc_id),
         best AS (
           SELECT doc_id, pred_lang,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, pred_lang) AS rn
           FROM sc),
         yy AS (
           SELECT b.doc_id, confd.p,
             b.pred_lang = d.lang AS y
           FROM best b JOIN confd USING (doc_id)
           JOIN documents d USING (doc_id)
           WHERE b.rn = 1),
         b2 AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
             p, y FROM yy)
         SELECT bin, count(*) AS n,
           round(CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE)
             / count(*), 6) AS conf,
           round(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS acc,
           round(abs(CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE)
               / count(*) -
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*)), 6) AS gap
         FROM b2 GROUP BY bin ORDER BY bin"""),

    // in-engine quality classifier: binary NB trained on the
    // corpus's own Gopher verdicts (weak supervision), scored per
    // doc — label, model verdict, and score in one relational plan.
    Query("llm_quality_nb", (s, dir) =>
      TextAnalysis.qualityNb(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      qualityNbOracle),

    // BPE tokenizer trainer: 8 greedy merge rounds at char
    // granularity over the distinct-word table; the oracle unrolls
    // the same 8 rounds in SQL (pair count -> argmax -> replace).
    Query("llm_bpe_train", (s, dir) =>
      TextAnalysis.bpeTrain(table(s, dir, "documents"), merges = 8)
        .orderBy(col("rank")),
      bpeTrainOracle(8)),

    // BPE encode: the 8 trained merges applied in rank order to
    // every distinct word, weighted by per-doc tf -> per-doc BPE
    // token count and fertility (tokenizer-fit gauge).
    Query("llm_bpe_encode", (s, dir) =>
      TextAnalysis.bpeEncode(table(s, dir, "documents"), merges = 8)
        .orderBy(col("doc_id")),
      bpeEncodeOracle(8)),

    // WordPiece trainer: the BPE loop under the LIKELIHOOD argmax
    // (count(xy)/(count(x)count(y)), compared as the exact integer
    // (c*10^9) div (ca*cb)) — the oracle unrolls the same 8 rounds
    // with per-round symbol counts and integer-division scores.
    Query("llm_wordpiece_train", (s, dir) =>
      TextAnalysis.wordpieceTrain(table(s, dir, "documents"),
          merges = 8)
        .orderBy(col("rank")),
      wpTrainOracle(8)),

    // WordPiece encode under the tokenizer's REAL inference rule:
    // greedy longest-match-first against alphabet + trained merges
    // (not BPE's merge-order replay); the oracle precomputes each
    // (word, position)'s longest vocab match and walks the chain
    // with a recursive CTE.
    Query("llm_wordpiece_encode", (s, dir) =>
      TextAnalysis.wordpieceEncode(table(s, dir, "documents"),
          merges = 8)
        .orderBy(col("doc_id")),
      wpEncodeOracle(8)),

    // unigram-LM (SentencePiece) tokenizer trainer: substring seed
    // vocab (40 pieces, len<=4) + 2 fixed-vocab EM rounds; the
    // oracle replays seeding, both Viterbi E-steps (full
    // segmentation enumeration per word type via recursive CTE —
    // the DP's tie rule is suffix-monotonic, so they agree) and
    // both Laplace M-steps bit-for-bit.
    Query("llm_unigram_train", (s, dir) =>
      TextAnalysis.unigramTrain(table(s, dir, "documents"))
        .orderBy(col("piece")),
      unigramTrainOracle),

    // unigram trainer with the reference algorithm's between-rounds
    // pruning: unused multi-char pieces drop after each E-step
    // (singles survive — coverage invariant), the smoothing
    // denominator shrinks with the vocab.
    Query("llm_unigram_pruned", (s, dir) =>
      TextAnalysis.unigramTrain(table(s, dir, "documents"),
          prune = true)
        .orderBy(col("piece")),
      unigramPrunedOracle),

    // unigram encode: Viterbi piece counts under the final model,
    // tf-weighted per doc -> fertility (the bpe_encode gauge under
    // the probabilistic tokenizer).
    Query("llm_unigram_encode", (s, dir) =>
      TextAnalysis.unigramEncode(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      unigramEncodeOracle),

    // span-corruption mask plan: T5-style non-overlapping 3-token
    // spans at stride 20, content-hash phase — pure row-local
    // arithmetic, density ~0.15.
    // span-mask replay: token count, content-hash phase, whole-fit
    // span arithmetic — identical floor/double order.
    Query("llm_span_mask", (s, dir) =>
      Mixing.spanMaskPlan(table(s, dir, "documents"))
        .orderBy(col("doc_id")),
      raw"""WITH m AS (
           SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS n_tokens,
             (CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
               % 20) AS r
           FROM documents),
         sp AS (SELECT doc_id, n_tokens, r,
             CASE WHEN n_tokens - 3 >= r
               THEN CAST(floor(CAST(n_tokens - 3 - r AS DOUBLE)
                 / 20.0) AS BIGINT) + 1
               ELSE 0 END AS n_spans
           FROM m)
         SELECT doc_id, n_tokens, n_spans,
           n_spans * 3 AS n_masked,
           round(CASE WHEN n_tokens > 0
             THEN CAST(n_spans * 3 AS DOUBLE)
                  / CAST(n_tokens AS DOUBLE)
             ELSE 0.0 END, 6) AS density,
           CASE WHEN n_spans > 0 THEN r END AS first_start
         FROM sp ORDER BY doc_id"""),

    // fill-in-the-middle prep (arXiv:2207.14255): a hash-gated half
    // of the docs rewritten <PRE>prefix<SUF>suffix<MID>middle with
    // character cuts, the rest verbatim — the whole transform is a
    // pure (id, text) function, so the oracle replays the gate and
    // both cut draws exactly.
    // FIM replay: the md5-h32 gate at floor(0.5*2^32) and both cut
    // draws mod (n+1) over CHARACTER length, lo/hi-ordered, then the
    // same three substrings — ASCII corpus so character = byte
    // positions agree trivially.
    Query("llm_fim", (s, dir) =>
      Mixing.fimTransform(table(s, dir, "documents"), rate = 0.5)
        .orderBy(col("doc_id")),
      fimOracle(spm = false)),

    // the paper's SPM variant: same gate and cuts, the joined
    // prefix-and-middle continuation after the suffix.
    // SPM replay: identical gate and cut arithmetic, the
    // <PRE><SUF>suffix<MID>prefix∘middle layout.
    Query("llm_fim_spm", (s, dir) =>
      Mixing.fimTransform(table(s, dir, "documents"), rate = 0.5,
          spm = true)
        .orderBy(col("doc_id")),
      fimOracle(spm = true)),

    // text-only top-5 by hash-embedding cosine: the sparse-dot
    // posting join over the feature-hash vectors — similarity
    // search with no model and no dense scan (every 100th doc
    // queries the rest).
    // sparse-dot top-k replay: the hash-embed sparse relation on
    // both sides, integer dot/norms over shared buckets, doubles at
    // the final divide; only shared-bucket pairs are scored (the
    // sparse-retrieval contract).
    Query("llm_hash_topk", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.hashTopK(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      raw"""WITH htf AS (
           SELECT doc_id, t AS tok, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
             FROM documents) dt
           GROUP BY doc_id, t),
         hv AS (SELECT doc_id, (h % 64) AS bucket,
             (CASE WHEN ((h >> 16) & 1) = 1 THEN 1 ELSE -1 END) * tf
               AS v0
           FROM (SELECT doc_id, tf,
               CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h
             FROM htf) hh),
         sb AS (SELECT doc_id, bucket, CAST(SUM(v0) AS BIGINT) AS v
           FROM hv GROUP BY doc_id, bucket),
         c AS (SELECT * FROM sb WHERE doc_id % 100 <> 0),
         qv AS (SELECT doc_id AS query_id, bucket, v AS qvv
           FROM sb WHERE doc_id % 100 = 0),
         cn AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS cn2
           FROM c GROUP BY doc_id),
         qn AS (SELECT query_id, CAST(SUM(qvv * qvv) AS BIGINT) AS qn2
           FROM qv GROUP BY query_id),
         dt2 AS (SELECT qv.query_id, c.doc_id,
             CAST(SUM(c.v * qv.qvv) AS BIGINT) AS dot
           FROM c JOIN qv USING (bucket)
           GROUP BY qv.query_id, c.doc_id),
         hsc AS (SELECT query_id, doc_id,
             round(CAST(dot AS DOUBLE) /
               (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))),
               6) AS cosine
           FROM dt2 JOIN cn USING (doc_id) JOIN qn USING (query_id)
           WHERE cn2 > 0 AND qn2 > 0)
         SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, cosine
         FROM (SELECT query_id, doc_id, cosine, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC)
             AS rk FROM hsc)
         WHERE rk <= 5 ORDER BY query_id, rank"""),

    // feature-hashing document vectors (model-free embeddings):
    // per-doc audit over the EXACT-integer sparse relation —
    // nonzero-bucket count, vector norm, first normalized component
    // (the llm_normalize device; doubles only at the final
    // sqrt/divide).
    // feature-hash replay: md5 base-32, bucket = h % 64, sign from
    // bit 16, exact-integer v and Σv² — doubles only at the end.
    Query("llm_hash_embed", (s, dir) =>
      TextAnalysis.hashEmbedSparse(table(s, dir, "documents"),
          dim = 64)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_nz"),
          sum(col("v") * col("v")).as("_nsq"),
          sum(when(col("bucket") === 0, col("v")).otherwise(lit(0L)))
            .as("_v0"))
        .select(col("doc_id"), col("n_nz"),
          round(sqrt(col("_nsq").cast("double")), 6).as("norm"),
          round(when(col("_nsq") > 0, col("_v0").cast("double") /
              sqrt(col("_nsq").cast("double"))).otherwise(lit(0.0)),
            6).as("first_dim"))
        .orderBy(col("doc_id")),
      raw"""WITH htf AS (
           SELECT doc_id, t AS tok, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
             FROM documents) dt
           GROUP BY doc_id, t),
         hv AS (SELECT doc_id, (h % 64) AS bucket,
             (CASE WHEN ((h >> 16) & 1) = 1 THEN 1 ELSE -1 END) * tf
               AS v0
           FROM (SELECT doc_id, tf,
               CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h
             FROM htf) hh),
         sb AS (SELECT doc_id, bucket, CAST(SUM(v0) AS BIGINT) AS v
           FROM hv GROUP BY doc_id, bucket)
         SELECT doc_id, count(*) AS n_nz,
           round(sqrt(CAST(SUM(v * v) AS DOUBLE)), 6) AS norm,
           round(CASE WHEN SUM(v * v) > 0
             THEN CAST(SUM(CASE WHEN bucket = 0 THEN v ELSE 0 END)
                  AS DOUBLE) / sqrt(CAST(SUM(v * v) AS DOUBLE))
             ELSE 0.0 END, 6) AS first_dim
         FROM sb GROUP BY doc_id ORDER BY doc_id"""),

    // blocklist scrub over planted terms (the pii_redact/secret_scan
    // device: every 7th doc gets deterministic blocklisted words,
    // one uppercased to exercise the lower() rule; both engines
    // inject identically so the hash checks match+scrub+verdict).
    Query("llm_blocklist", (s, dir) =>
      TextAnalysis.blocklistScrub(
        table(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" badterm1 casino777 BADTERM1")))
            .otherwise(col("text"))),
        terms = Seq("badterm1", "casino777", "unused.term"),
        tau = 0.05)
        .orderBy(col("doc_id")),
      raw"""WITH src AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' badterm1 casino777 BADTERM1'
               ELSE text END AS text
           FROM documents),
         t AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
           FROM src),
         k AS (
           SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             list_filter(tk, x -> NOT regexp_matches(lower(x),
               '^(?:badterm1|casino777|unused\.term)$$')) AS kept
           FROM t),
         r AS (
           SELECT doc_id, n_tokens,
             CAST(n_tokens - len(kept) AS BIGINT) AS n_hits,
             CASE WHEN n_tokens = 0 THEN 0.0
               ELSE round(CAST(n_tokens - len(kept) AS DOUBLE)
                 / n_tokens, 6) END AS hit_frac,
             array_to_string(kept, ' ') AS text_clean
           FROM k)
         SELECT doc_id, n_tokens, n_hits, hit_frac, text_clean,
           hit_frac >= 0.05 AS blocked
         FROM r ORDER BY doc_id"""),

    // C4 line/page cleaning over planted page structure (the
    // blocklist/secret_scan device: deterministic extra lines by
    // doc_id in BOTH engines, so every rule fires somewhere — a
    // 2-word unpunctuated line, a javascript line, a lorem-ipsum
    // line, a curly-brace code line).
    Query("llm_c4_filter", (s, dir) =>
      TextAnalysis.c4Filter(
        table(s, dir, "documents").withColumn("text", concat(
          col("text"), lit("."),
          when(col("doc_id") % 3 === 0, lit("\ntoo short"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nplease enable javascript to view this page."))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("\nlorem ipsum dolor sit amet."))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit("\nif (x) { return y; } end of code sample."))
            .otherwise(lit("")))),
        minWordsPerLine = 3, minKeptLines = 1)
        .orderBy(col("doc_id")),
      raw"""WITH src AS (
           SELECT doc_id, text || '.'
             || CASE WHEN doc_id % 3 = 0
                  THEN chr(10) || 'too short' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN chr(10) ||
                    'please enable javascript to view this page.'
                  ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN chr(10) || 'lorem ipsum dolor sit amet.'
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                  THEN chr(10) ||
                    'if (x) { return y; } end of code sample.'
                  ELSE '' END AS text
           FROM documents),
         l AS (
           SELECT doc_id, text,
             string_split(text, chr(10)) AS lines
           FROM src),
         k AS (
           SELECT doc_id, lines,
             list_filter(lines, ln ->
               len(list_filter(string_split(trim(ln), ' '),
                 w -> w <> '')) >= 3
               AND regexp_matches(trim(ln), '[.!?"]$$')
               AND NOT contains(lower(ln), 'javascript'))
               AS kept_lines,
             contains(text, '{') AS has_brace,
             contains(lower(text), 'lorem ipsum') AS has_lorem
           FROM l)
         SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept_lines) AS BIGINT) AS n_kept,
           round(CAST(len(kept_lines) AS DOUBLE) / len(lines), 6)
             AS kept_frac,
           CAST(length(array_to_string(kept_lines, chr(10)))
             AS BIGINT) AS clean_chars,
           has_brace, has_lorem,
           (len(kept_lines) >= 1 AND NOT has_brace
             AND NOT has_lorem) AS kept
         FROM k ORDER BY doc_id"""),

    // CCNet head/tail filter: materialize the kept (head+middle)
    // corpus slice from the per-language perplexity tiers.
    // CCNet-filter replay: the llm_ppl_buckets chain, kept buckets
    // only, source re-attached from the corpus.
    Query("llm_ccnet_filter", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.ccnetFilterScored(docs, lmScore05(s, dir),
          nBuckets = 3, keepBuckets = 2)
        .select(col("doc_id"), col("lang"), col("source"),
          col("ppl_bucket"))
        .orderBy(col("doc_id"))
    },
      raw"""WITH $bigramScoreCtes,
         tier AS (
           SELECT d.doc_id, d.lang, d.source,
             CAST(ntile(3) OVER (PARTITION BY d.lang
               ORDER BY sc.avg_logprob DESC, d.doc_id ASC) AS BIGINT)
               AS ppl_bucket
           FROM sc JOIN documents d ON d.doc_id = sc.doc_id)
         SELECT doc_id, lang, source, ppl_bucket
         FROM tier WHERE ppl_bucket <= 2
         ORDER BY doc_id"""),

    // heavy hitters: Misra-Gries candidates (one mergeable-sketch
    // pass) + exact verify pass — tokens above 1/30 of all instances,
    // exact and partitioning-independent, so fully oracle-checked
    // even though the intermediate sketch is not replayable.
    // heavy hitters are EXACT (the Misra-Gries sketch only prunes
    // candidates; the verify pass recounts) — the oracle is the plain
    // frequency threshold.
    Query("llm_heavy_hitters", (s, dir) =>
      HeavyHitters.heavyHitters(table(s, dir, "documents"), k = 30)
        .orderBy(col("rank")),
      raw"""WITH t AS (
           SELECT unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         tot AS (SELECT count(*) AS n FROM t),
         c AS (SELECT token, count(*) AS n_occurrences
               FROM t GROUP BY token)
         SELECT CAST(row_number() OVER (
             ORDER BY n_occurrences DESC, token ASC) AS BIGINT) AS rank,
           token, n_occurrences
         FROM c, tot WHERE n_occurrences * 30 > n
         ORDER BY rank"""),

    // exact-substring duplicate spans (suffix-array-family dedup):
    // maximal runs of 8-token windows occurring >= 2 times
    // corpus-wide — the ranges a substring-dedup pass would cut.
    // substring-span replay: 60-bit md5 window hashes, duplicated
    // hashes, consecutive-position islands -> maximal spans.
    Query("llm_substring_spans", (s, dir) =>
      Dedup.substringDupSpans(table(s, dir, "documents"), l = 8)
        .orderBy(col("doc_id"), col("span_start")),
      raw"""WITH $docTokCte,
         win AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(tk) - 7),
             i -> {'pos': i, 'h': CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT)}))
             AS z
           FROM tok WHERE len(tk) >= 8),
         w2 AS (SELECT doc_id, z.pos AS pos, z.h AS h FROM win),
         dup AS (SELECT h FROM w2 GROUP BY h HAVING count(*) >= 2),
         isl AS (
           SELECT doc_id, pos, pos - row_number() OVER (
             PARTITION BY doc_id ORDER BY pos) AS grp
           FROM w2 JOIN dup USING (h))
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
           count(*) AS n_windows
         FROM isl GROUP BY doc_id, grp
         ORDER BY doc_id, span_start"""),

    // mixed-language detection: per-10-token-chunk langid, per-doc
    // dominance; purity < 0.8 flags code-switched docs.
    // lang-purity replay: chunk slicing as in chunk_dedup, the
    // langid_docs marker-argmax per chunk, struct-max dominance.
    Query("llm_lang_purity", (s, dir) =>
      TextAnalysis.langPurity(table(s, dir, "documents"),
        chunkTokens = 10, tau = 0.8)
        .orderBy(col("doc_id")),
      raw"""WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '),
             t -> t <> '') AS tk
           FROM documents),
         ch AS (
           SELECT doc_id, unnest(
             CASE WHEN len(tk) > 0 THEN
               list_transform(generate_series(0, (len(tk) - 1) // 10),
                 i -> array_to_string(tk[i*10+1 : i*10+10], ' '))
             ELSE [] END) AS c
           FROM toks),
         lang AS (
           SELECT doc_id,
             CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS l
           FROM (
             SELECT doc_id, ${langBestSql("ct")}
             FROM (SELECT doc_id, list_filter(
                     regexp_split_to_array(lower(c), '\s+'),
                     t -> t <> '') AS ct
                   FROM ch))),
         counts AS (SELECT doc_id, l, count(*) AS n FROM lang
                    GROUP BY doc_id, l),
         agg AS (
           SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chunks,
             max({'n': n, 'l': l}) AS best
           FROM counts GROUP BY doc_id)
         SELECT doc_id, n_chunks, best.l AS dominant_lang,
           round(CAST(best.n AS DOUBLE) / CAST(n_chunks AS DOUBLE), 6)
             AS purity,
           (round(CAST(best.n AS DOUBLE) / CAST(n_chunks AS DOUBLE), 6)
             < 0.8) AS is_mixed
         FROM agg ORDER BY doc_id"""),

    // Zipf rank-frequency slope per source over the top-100 power-law
    // region (decimal-exact OLS — see zipfSlope).
    // zipf replay: identical rank window, ln in double, decimal sums,
    // identical double formula tree, round-6.
    Query("llm_zipf", (s, dir) =>
      TextAnalysis.zipfSlope(table(s, dir, "documents"), topV = 100,
        minCount = 2)
        .orderBy(col("source")),
      raw"""WITH tok AS (
           SELECT source, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')) AS t
           FROM documents),
         c AS (SELECT source, t, count(*) AS c FROM tok
               GROUP BY source, t HAVING count(*) >= 2),
         r AS (SELECT source, t, c, row_number() OVER (
                 PARTITION BY source ORDER BY c DESC, t ASC) AS r
               FROM c),
         xy AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x,
                  ln(CAST(c AS DOUBLE)) AS y
                FROM r WHERE r <= 100),
         s AS (SELECT source, count(*) AS n_ranked,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
           FROM xy GROUP BY source)
         SELECT source, n_ranked,
           round((CAST(n_ranked AS DOUBLE) * sxy - sx * sy) /
             (CAST(n_ranked AS DOUBLE) * sxx - sx * sx), 6)
             AS zipf_slope
         FROM s WHERE n_ranked >= 2 ORDER BY source"""),

    // secret scan over planted credentials (the pii_redact device:
    // every 5th doc gets a deterministic high-entropy key appended,
    // both engines inject identically so the hash checks every rule).
    Query("llm_secret_scan", (s, dir) =>
      TextAnalysis.secretScan(
        table(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" sk_"),
              md5(col("doc_id").cast("string"))))
            .otherwise(col("text"))),
        minLen = 20, minEntropy = 2.5)
        .orderBy(col("doc_id")),
      raw"""WITH injected AS (
           SELECT doc_id, CASE WHEN doc_id % 5 = 0
             THEN text || ' sk_' || md5(CAST(doc_id AS VARCHAR))
             ELSE text END AS text
           FROM documents),
         $secretEntropyCtes,
         agg AS (
           SELECT doc_id, count(*) AS n_long_tokens,
             CAST(sum(CASE WHEN e >= 2.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_secretish,
             round(max(e), 6) AS max_entropy
           FROM ent GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(n_long_tokens, 0) AS n_long_tokens,
           coalesce(n_secretish, 0) AS n_secretish,
           coalesce(max_entropy, -1.0) AS max_entropy,
           coalesce(n_secretish, 0) > 0 AS has_secret
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id"""),

    // corpus version diff over a simulated re-crawl (deterministic
    // v2 in BOTH engines: %13 docs dropped, %7 rewritten, %11
    // re-ingested under shifted ids): per (source, status) doc and
    // char counts — the dataset changelog audit.
    // corpus diff: same simulated v2, FULL OUTER JOIN on the id,
    // value-compare for `changed` (the engine's 8-byte content hash
    // stands in for text equality — the dup_weights device).
    Query("llm_corpus_diff", (s, dir) => {
      val old = table(s, dir, "documents")
      val v2base = old.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      val v2 = v2base.unionByName(
        old.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      Dedup.corpusDiff(old, v2)
        .orderBy(col("source"), col("status"))
    },
      """WITH oldd AS (
           SELECT doc_id, source, text FROM documents),
         v2 AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
               AS text
           FROM documents WHERE doc_id % 13 <> 0
           UNION ALL
           SELECT doc_id + 1000000, source, text
           FROM documents WHERE doc_id % 11 = 0),
         j AS (
           SELECT coalesce(n.source, o.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.text <> n.text THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(length(n.text), length(o.text)) AS chars
           FROM oldd o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id)
         SELECT source, status, count(*) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS n_chars
         FROM j GROUP BY source, status
         ORDER BY source, status"""),

    // HTML strip over planted markup (every 6th doc wrapped in tags
    // with entity-encoded tail, both engines identically): tag
    // count, cleaned text, markup ratio, page gate.
    // html strip: tag regex + the five literal entity decodes in
    // the engine's order (amp LAST), whitespace collapse, ratio.
    Query("llm_html_strip", (s, dir) =>
      TextAnalysis.htmlStrip(
        table(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 6 === 0,
            concat(lit("<div class=\"hero\"><p>"), col("text"),
              lit("</p></div> &amp;lt; tail &quot;quoted&#39;")))
            .otherwise(col("text"))))
        .orderBy(col("doc_id")),
      raw"""WITH injected AS (
           SELECT doc_id, CASE WHEN doc_id % 6 = 0
             THEN '<div class="hero"><p>' || text ||
               '</p></div> &amp;lt; tail &quot;quoted&#39;'
             ELSE text END AS text
           FROM documents),
         s1 AS (
           SELECT doc_id, length(text) AS n0,
             CAST(len(regexp_extract_all(text, '<[^>]+>'))
               AS BIGINT) AS tag_count,
             regexp_replace(text, '<[^>]+>', ' ', 'g') AS t
           FROM injected),
         s2 AS (
           SELECT doc_id, n0, tag_count,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(t,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&amp;', '&'),
               '\s+', ' ', 'g')) AS text_clean
           FROM s1)
         SELECT doc_id, tag_count, text_clean,
           CASE WHEN n0 > 0
             THEN round(1.0 - CAST(length(text_clean) AS DOUBLE) / n0, 6)
             ELSE 0.0 END AS markup_ratio,
           tag_count >= 2 AS is_markup
         FROM s2 ORDER BY doc_id"""),

    // fused safety scan over the triple injection device (pii +
    // secret + blockterm planted on different doc_id moduli, both
    // engines identically): typed pii counts, blocklist hits,
    // secret verdict, one flagged rollup.
    // per-source corpus data card: volume + predicted language mix +
    // exact-dup rate + safety exposure, one row per source; PII and
    // blocklist text planted with the llm_safety_scan injection so
    // the fractions discriminate. The oracle composes the langid,
    // PII-chain, and quantile replays into one per-source rollup.
    // corpus data card replay: langid argmax + the stepwise PII
    // redaction chain + quantile_cont + distinct-text dup rate,
    // rolled up per source with a ROW_NUMBER language mode.
    Query("llm_corpus_report", (s, dir) =>
      TextAnalysis.corpusReport(
        table(s, dir, "documents").withColumn("text", concat(
          col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com from 10.0."), col("doc_id") % 256,
              lit(".7"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" badterm1 casino777")).otherwise(lit("")))),
        blockTerms = Seq("badterm1", "casino777"))
        .orderBy(col("source")),
      raw"""WITH injected AS MATERIALIZED (
           SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 4 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7'
                  ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' badterm1 casino777' ELSE '' END AS text
           FROM documents),
         px AS MATERIALIZED (
           SELECT doc_id, source, text,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t <> '') AS ltoks,
             list_filter(regexp_split_to_array(text, '\s+'),
               t -> t <> '') AS tk
           FROM injected WHERE text IS NOT NULL),
         lang AS MATERIALIZED (
           SELECT doc_id,
             CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END
               AS lang
           FROM (SELECT doc_id, ${langBestSql("ltoks")} FROM px)),
         p1 AS MATERIALIZED (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1,
             CAST(len(tk) - len(list_filter(tk,
               x -> NOT regexp_matches(lower(x),
                 '^(?:badterm1|casino777)$$')))
               AS BIGINT) AS nb
           FROM px),
         p2 AS MATERIALIZED (
           SELECT doc_id, n_email, nb,
             CAST(len(regexp_extract_all(t1,
               '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
             regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b',
               '<IP>', 'g') AS t2
           FROM p1),
         p3 AS MATERIALIZED (
           SELECT doc_id,
             n_email + n_ip + CAST(len(regexp_extract_all(t2,
               '\+?\d[\d().\- ]{6,}\d')) AS BIGINT) AS npii,
             nb
           FROM p2),
         perdoc AS MATERIALIZED (
           SELECT px.source, px.doc_id, len(px.tk) AS ntok, px.text,
             lang.lang, p3.npii, p3.nb
           FROM px JOIN lang USING (doc_id) JOIN p3 USING (doc_id)),
         base AS MATERIALIZED (
           SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS n_tokens,
             round(quantile_cont(CAST(ntok AS DOUBLE), 0.9), 6)
               AS p90_tokens,
             COUNT(DISTINCT text) AS nh,
             SUM(CASE WHEN npii > 0 THEN 1 ELSE 0 END) AS npiid,
             SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS nbd
           FROM perdoc GROUP BY source),
         langs AS MATERIALIZED (
           SELECT source, lang, COUNT(*) AS lc,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY COUNT(*) DESC, lang ASC) AS rk
           FROM perdoc GROUP BY source, lang)
         SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
           b.n_tokens,
           round(CAST(b.n_tokens AS DOUBLE) / b.n_docs, 6)
             AS mean_tokens,
           b.p90_tokens,
           l.lang AS top_lang,
           round(CAST(l.lc AS DOUBLE) / b.n_docs, 6) AS top_lang_frac,
           round(1.0 - CAST(b.nh AS DOUBLE) / b.n_docs, 6)
             AS exact_dup_frac,
           round(CAST(b.npiid AS DOUBLE) / b.n_docs, 6)
             AS pii_doc_frac,
           round(CAST(b.nbd AS DOUBLE) / b.n_docs, 6)
             AS blocked_doc_frac
         FROM base b JOIN langs l ON l.source = b.source AND l.rk = 1
         ORDER BY b.source"""),

    // safety scan: triple injection, sequential pii counting on the
    // progressively-redacted text (email -> ip -> phone, the
    // redactPii precedence), blocklist instance count, the proven
    // secret-scan entropy CTEs, one flagged rollup.
    Query("llm_safety_scan", (s, dir) =>
      TextAnalysis.safetyScan(
        table(s, dir, "documents").withColumn("text", concat(
          col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com from 10.0."), col("doc_id") % 256,
              lit(".7"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" sk_"), md5(col("doc_id").cast("string"))))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" badterm1 casino777")).otherwise(lit("")))),
        blockTerms = Seq("badterm1", "casino777", "unused.term"))
        .orderBy(col("doc_id")),
      raw"""WITH injected AS (
           SELECT doc_id, source, text
             || CASE WHEN doc_id % 4 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7'
                  ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                  THEN ' sk_' || md5(CAST(doc_id AS VARCHAR))
                  ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' badterm1 casino777' ELSE '' END AS text
           FROM documents),
         p1 AS (
           SELECT doc_id, source,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1,
             CAST(len(tk) - len(list_filter(tk,
               x -> NOT regexp_matches(lower(x),
                 '^(?:badterm1|casino777|unused\.term)$$')))
               AS BIGINT) AS n_blocked
           FROM (SELECT doc_id, source, text, list_filter(
                   regexp_split_to_array(text, '\s+'), x -> x <> '')
                   AS tk
                 FROM injected)),
         p2 AS (
           SELECT doc_id, source, n_email, n_blocked,
             CAST(len(regexp_extract_all(t1,
               '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
             regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b',
               '<IP>', 'g') AS t2
           FROM p1),
         p3 AS (
           SELECT doc_id, source, n_email, n_ip,
             CAST(len(regexp_extract_all(t2,
               '\+?\d[\d().\- ]{6,}\d')) AS BIGINT) AS n_phone,
             n_blocked
           FROM p2),
         $secretEntropyCtes,
         sec AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN e >= 2.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_secretish
           FROM ent GROUP BY doc_id)
         SELECT p3.doc_id, p3.source, n_email, n_ip, n_phone,
           n_blocked,
           coalesce(n_secretish, 0) > 0 AS has_secret,
           (n_email + n_ip + n_phone + n_blocked > 0 OR
             coalesce(n_secretish, 0) > 0) AS flagged
         FROM p3 LEFT JOIN sec USING (doc_id)
         ORDER BY p3.doc_id"""),

    // winnowed-fingerprint near-dup candidates (MOSS): shared
    // rightmost-min prints over 5-gram hashes, winnow window 4,
    // high-frequency prints (df > 50) ignored.
    // winnow replay: md5-60 5-gram hashes, rightmost-min (<=) reduce
    // per start, position-distinct prints, df cap, shared-print pairs.
    // The (h, p) struct list is built ONCE and sliced per window
    // start — DuckDB 1.0 mis-captures an outer lambda variable inside
    // a nested generate_series lambda (each window silently reduced
    // to its first element), so the replay must not nest lambdas.
    Query("llm_winnow", (s, dir) =>
      Dedup.winnowPairs(table(s, dir, "documents"), k = 5, w = 4,
          minShared = 2, maxDf = 50)
        .orderBy(col("id_a"), col("id_b")),
      raw"""WITH $docTokCte,
         $winnowPrintCtes,
         keep AS (SELECT doc_id, ph FROM pr JOIN rare USING (ph))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(DISTINCT a.ph) AS n_shared
         FROM keep a JOIN keep b
           ON a.ph = b.ph AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(DISTINCT a.ph) >= 2
         ORDER BY id_a, id_b"""),

    // winnow attribution report (the MOSS result page): per pair,
    // shared distinct prints + each side's print count + coverage
    // fractions — containment shows as near-1 coverage of one side.
    // winnow-report replay: the llm_winnow chain through `keep`,
    // deduped to (doc, print), plus per-doc print counts and the
    // two coverage fractions.
    Query("llm_winnow_report", (s, dir) =>
      Dedup.winnowReport(table(s, dir, "documents"), k = 5, w = 4,
          minShared = 2, maxDf = 50)
        .orderBy(col("id_a"), col("id_b")),
      raw"""WITH $docTokCte,
         $winnowPrintCtes,
         keepd AS (SELECT DISTINCT doc_id, ph
                   FROM pr JOIN rare USING (ph)),
         dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS np
                FROM keepd GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM keepd a JOIN keepd b
             ON a.ph = b.ph AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT p.id_a, p.id_b, p.n_shared,
           da.np AS n_prints_a, db.np AS n_prints_b,
           round(CAST(p.n_shared AS DOUBLE) / da.np, 6) AS cov_a,
           round(CAST(p.n_shared AS DOUBLE) / db.np, 6) AS cov_b
         FROM pairs p
         JOIN dc da ON da.doc_id = p.id_a
         JOIN dc db ON db.doc_id = p.id_b
         ORDER BY p.id_a, p.id_b"""),

    // per-source boilerplate strip: chunks present in >= 2 docs AND
    // >= 8% of a source's docs are templates; every occurrence
    // removed from that source's docs.
    // boilerplate replay on chunk TEXT (the engine's chunk hash is
    // internal); a chunk position is removed iff its VALUE is a
    // qualifying template for the doc's source.
    Query("llm_boilerplate", (s, dir) =>
      Dedup.stripSourceBoilerplate(table(s, dir, "documents"),
          chunkTokens = 10, minDocs = 2, tau = 0.08)
        .select(col("doc_id"), col("source"), col("text_clean"),
          col("n_chunks_removed"))
        .orderBy(col("doc_id")),
      """WITH toks AS (
           SELECT doc_id, source, text,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         ch AS (
           SELECT doc_id, source, text,
             CASE WHEN len(tk) > 0 THEN
               list_transform(generate_series(0, (len(tk) - 1) // 10),
                 i -> array_to_string(tk[i*10+1 : i*10+10], ' '))
             ELSE [] END AS chunks
           FROM toks),
         sz AS (SELECT source, count(*) AS nd FROM documents
                GROUP BY source),
         dfq AS (
           SELECT source, c, count(DISTINCT doc_id) AS df
           FROM (SELECT doc_id, source, unnest(chunks) AS c FROM ch)
           GROUP BY source, c),
         boiler AS (
           SELECT dfq.source, list(c) AS bad
           FROM dfq JOIN sz USING (source)
           WHERE df >= 2 AND CAST(df AS DOUBLE) / nd >= 0.08
           GROUP BY dfq.source)
         SELECT doc_id, source,
           CASE WHEN len(kept) = len(chunks) THEN text
                ELSE coalesce(array_to_string(kept, ' '), '') END
             AS text_clean,
           CAST(len(chunks) - len(kept) AS BIGINT) AS n_chunks_removed
         FROM (
           SELECT ch.doc_id, ch.source, ch.text, ch.chunks,
             list_filter(ch.chunks, x -> NOT list_contains(
               coalesce(b.bad, []), x)) AS kept
           FROM ch LEFT JOIN boiler b ON ch.source = b.source)
         ORDER BY doc_id"""),

    // per-source exact-dedup savings report (globally-first
    // representative; cross-source copies count against their own
    // source).
    // dedup-stats replay: canonical election by (text, doc_id) — the
    // engine's 64-bit content hash is internal, value == hash here.
    Query("llm_dedup_stats", (s, dir) =>
      Dedup.dedupStats(table(s, dir, "documents"))
        .orderBy(col("source")),
      """WITH r AS (
           SELECT doc_id, source, text, row_number() OVER (
             PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(length(text)) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE length(text) END)
             AS BIGINT) AS chars_dup,
           round(CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_frac
         FROM r GROUP BY source ORDER BY source"""),

    // batch novelty: docs >= 450 play the incoming batch, the rest
    // the standing corpus; per batch doc the unseen-gram fraction.
    // novelty replay: distinct md5-60 grams per batch doc, corpus
    // gram set, unseen fraction.
    Query("llm_novelty", (s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.batchNovelty(d.filter(col("doc_id") < 450),
          d.filter(col("doc_id") >= 450), n = 8, tau = 0.5)
        .orderBy(col("doc_id"))
    },
      raw"""WITH $docTokCte,
         win AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(tk) - 7),
             i -> CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT)))
             AS h
           FROM tok WHERE len(tk) >= 8),
         bg AS (SELECT DISTINCT doc_id, h FROM win WHERE doc_id >= 450),
         cg AS (SELECT DISTINCT h FROM win WHERE doc_id < 450),
         agg AS (
           SELECT bg.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN cg.h IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
           FROM bg LEFT JOIN cg ON bg.h = cg.h
           GROUP BY bg.doc_id)
         SELECT doc_id, n_grams, n_novel,
           round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             AS novelty_frac,
           (round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             >= 0.5) AS is_novel
         FROM agg ORDER BY doc_id"""),

    // rare-n-gram exposure (memorization/privacy gate): per doc, the
    // distinct 8-token window-grams, how many are globally unique /
    // rare (df <= 2), and the high-exposure verdict.
    // rare-n-gram replay: distinct md5-60 window hashes per doc,
    // hash df across docs, unique/rare counts + exposure verdict.
    Query("llm_rare_ngrams", (s, dir) =>
      Dedup.rareNgramStats(table(s, dir, "documents"), n = 8,
        rareMax = 2, tau = 0.5)
        .orderBy(col("doc_id")),
      raw"""WITH $docTokCte,
         win AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(tk) - 7),
             i -> CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT)))
             AS h
           FROM tok WHERE len(tk) >= 8),
         w2 AS (SELECT DISTINCT doc_id, h FROM win),
         df AS (SELECT h, count(*) AS df FROM w2 GROUP BY h),
         agg AS (
           SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
             CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare
           FROM w2 JOIN df USING (h) GROUP BY doc_id)
         SELECT doc_id, n_grams, n_unique, n_rare,
           round(CAST(n_rare AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             AS rare_frac,
           (round(CAST(n_rare AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             >= 0.5) AS high_exposure
         FROM agg ORDER BY doc_id"""),

    // exact-substring dedup, materialized: duplicated spans cut from
    // every doc except the canonical (globally-first) occurrence.
    // substring-dedup replay: spans + leading-window hash, canonical
    // election by (doc, pos), cut ranges anti-joined against the
    // token index, survivors re-joined in order.
    Query("llm_substring_dedup", (s, dir) =>
      Dedup.substringDedup(table(s, dir, "documents"), l = 8)
        .select(col("doc_id"), col("text_clean"),
          col("n_tokens_dropped"))
        .orderBy(col("doc_id")),
      raw"""WITH tok AS (
           SELECT doc_id, text, list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
           FROM documents),
         win AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(tk) - 7),
             i -> {'pos': i, 'h': CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT)}))
             AS z
           FROM tok WHERE len(tk) >= 8),
         w2 AS (SELECT doc_id, z.pos AS pos, z.h AS h FROM win),
         dup AS (SELECT h FROM w2 GROUP BY h HAVING count(*) >= 2),
         dw AS (SELECT doc_id, pos, h FROM w2 JOIN dup USING (h)),
         isl AS (
           SELECT doc_id, pos, h, pos - row_number() OVER (
             PARTITION BY doc_id ORDER BY pos) AS grp
           FROM dw),
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e,
             min_by(h, pos) AS h0
           FROM isl GROUP BY doc_id, grp),
         canon AS (
           SELECT h AS h0, doc_id AS cd, pos AS cp FROM (
             SELECT h, doc_id, pos, row_number() OVER (
               PARTITION BY h ORDER BY doc_id, pos) AS rn FROM dw)
           WHERE rn = 1),
         drops AS (
           SELECT sp.doc_id, sp.s, sp.e
           FROM spans sp JOIN canon c USING (h0)
           WHERE NOT (sp.doc_id = c.cd AND sp.s = c.cp)),
         ti AS (
           SELECT doc_id, z.i AS i, z.t AS t FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(tk)),
               i -> {'i': i, 't': tk[i]})) AS z
             FROM tok WHERE len(tk) >= 1)),
         kept AS (
           SELECT ti.doc_id, ti.i, ti.t
           FROM ti LEFT JOIN drops d
             ON ti.doc_id = d.doc_id AND ti.i BETWEEN d.s AND d.e
           WHERE d.doc_id IS NULL),
         agg AS (
           SELECT doc_id,
             coalesce(array_to_string(array_agg(t ORDER BY i), ' '), '')
               AS joined,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id,
           CASE WHEN t.doc_id IN (SELECT doc_id FROM drops)
                THEN coalesce(a.joined, '') ELSE t.text END AS text_clean,
           CAST(coalesce(len(t.tk), 0)
             - CASE WHEN t.doc_id IN (SELECT doc_id FROM drops)
                    THEN coalesce(a.n_kept, 0)
                    ELSE coalesce(len(t.tk), 0) END AS BIGINT)
             AS n_tokens_dropped
         FROM tok t LEFT JOIN agg a USING (doc_id)
         ORDER BY t.doc_id"""),

    // windowed Misra-Gries through the typed-udaf path, run in its
    // EXACT regime (m=8 >= the 5 event types, so counters never
    // decrement and equal true counts) — the oracle-checkable face of
    // HeavyHitters.windowedCandidates; the sketch regime's laws are
    // proven in StreamingSpec/PropertySpec instead.
    // windowed-MG exact-regime replay: with m >= |alphabet| the MG
    // counters are plain per-window counts.
    Query("llm_window_tokens", (s, dir) =>
      HeavyHitters.windowedCandidates(Star.events(s, dir),
          tsCol = "ts", tokenCol = "event_type",
          windowDur = "1 hour", m = 8)
        .select(col("window_start"),
          explode(col("counters")).as(Seq("token", "n_occ")))
        .orderBy(col("window_start"), col("token")),
      """SELECT date_trunc('hour', ts) AS window_start,
           event_type AS token, COUNT(*) AS n_occ
         FROM events GROUP BY 1, 2 ORDER BY window_start, token"""),

    // per-source KL drift vs the corpus token distribution — the
    // data-health gauge for a multi-source mix.
    // KL-drift replay: identical formula tree, decimal term sum.
    Query("llm_source_drift", (s, dir) =>
      TextAnalysis.sourceDrift(table(s, dir, "documents"))
        .orderBy(col("source")),
      raw"""WITH t AS (
           SELECT source, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT source, token, count(*) AS c
               FROM t GROUP BY source, token),
         ct AS (SELECT token, SUM(c) AS ct FROM c GROUP BY token),
         ns AS (SELECT source, SUM(c) AS ns FROM c GROUP BY source),
         nt AS (SELECT SUM(ct) AS nt FROM ct)
         SELECT c.source, CAST(ns.ns AS BIGINT) AS n_tokens,
           round(CAST(SUM(CAST(
             (CAST(c.c AS DOUBLE) / CAST(ns.ns AS DOUBLE)) *
             ln((CAST(c.c AS DOUBLE) / CAST(ns.ns AS DOUBLE)) /
                (CAST(ct.ct AS DOUBLE) / CAST(nt.nt AS DOUBLE)))
           AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl
         FROM c JOIN ct USING (token) JOIN ns USING (source), nt
         GROUP BY c.source, ns.ns ORDER BY c.source"""),

    // the symmetric, bounded JS variant of the same gauge (comparable
    // across sources of very different sizes, unlike raw KL).
    // JS-drift replay: same postings-shaped join as the KL; the
    // absent-token mass enters through the closed form
    // ½·ln2·(1 − covered) — identical formula trees on both sides.
    Query("llm_js_drift", (s, dir) =>
      TextAnalysis.jsDrift(table(s, dir, "documents"))
        .orderBy(col("source")),
      raw"""WITH t AS (
           SELECT source, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT source, token, count(*) AS c
               FROM t GROUP BY source, token),
         ct AS (SELECT token, SUM(c) AS ct FROM c GROUP BY token),
         ns AS (SELECT source, SUM(c) AS ns FROM c GROUP BY source),
         nt AS (SELECT SUM(ct) AS nt FROM ct)
         SELECT source, n_tokens,
           round(core + (0.5 * ln(2.0)) * (1.0 - covered), 6) AS js
         FROM (
           SELECT c.source, CAST(ns.ns AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(0.5 * (
               (CAST(c.c AS DOUBLE) / CAST(ns.ns AS DOUBLE)) *
               ln((CAST(c.c AS DOUBLE) / CAST(ns.ns AS DOUBLE)) /
                  (((CAST(c.c AS DOUBLE) / CAST(ns.ns AS DOUBLE)) +
                    (CAST(ct.ct AS DOUBLE) / CAST(nt.nt AS DOUBLE))) / 2.0))
               + (CAST(ct.ct AS DOUBLE) / CAST(nt.nt AS DOUBLE)) *
               ln((CAST(ct.ct AS DOUBLE) / CAST(nt.nt AS DOUBLE)) /
                  (((CAST(c.c AS DOUBLE) / CAST(ns.ns AS DOUBLE)) +
                    (CAST(ct.ct AS DOUBLE) / CAST(nt.nt AS DOUBLE))) / 2.0))
             ) AS DECIMAL(38,18))) AS DOUBLE) AS core,
             CAST(SUM(CAST(
               (CAST(ct.ct AS DOUBLE) / CAST(nt.nt AS DOUBLE))
             AS DECIMAL(38,18))) AS DOUBLE) AS covered
           FROM c JOIN ct USING (token) JOIN ns USING (source), nt
           GROUP BY c.source, ns.ns)
         ORDER BY source"""),

    // tokenizer-training statistics: top adjacent-token merge pairs
    // with corpus count and document frequency.
    // BPE merge-pair replay: row-local adjacent pairs via
    // generate_series, identical count/df ranking.
    Query("llm_bpe_pairs", (s, dir) =>
      TextAnalysis.bpePairStats(table(s, dir, "documents"), k = 40)
        .orderBy(col("rank")),
      raw"""WITH $docTokCte,
         pr AS (
           SELECT doc_id, z.a AS a, z.b AS b FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(tk) - 1),
               i -> {'a': tk[i], 'b': tk[i + 1]})) AS z
             FROM tok WHERE len(tk) >= 2)),
         agg AS (
           SELECT a, b, count(*) AS n_pairs,
             count(DISTINCT doc_id) AS n_docs
           FROM pr GROUP BY a, b)
         SELECT CAST(row_number() OVER (
             ORDER BY n_pairs DESC, a ASC, b ASC) AS BIGINT) AS rank,
           a, b, n_pairs, n_docs
         FROM agg
         ORDER BY n_pairs DESC, a ASC, b ASC
         LIMIT 40"""),

    // codec-free blob near-dup: byte-window SimHash over the binary
    // content column, banded 16-bit join, Hamming <= 3 (pigeonhole-
    // complete). MD5-oracle-verified under Verify's hash family. The
    // ascii-only gate mirrors the oracle's: the replay models byte
    // windows as char substrings, which is only faithful for
    // single-byte text (see the oracle comment) — the kernel itself
    // is byte-faithful for any blob.
    // blob-simhash replay: the blob is the ASCII text's bytes, so the
    // distinct 4-BYTE windows are distinct 4-CHAR substrings. That
    // equivalence holds ONLY for single-byte (ASCII) text —
    // substring/length are character-based in DuckDB — so the replay
    // filters to ascii-only docs on BOTH sides (the Spark query
    // applies the same gate): a future non-ASCII fixture doc drops
    // out of the comparison instead of surfacing as a hash mismatch.
    Query("llm_mm_neardup", (s, dir) =>
      Multimodal.blobNearDupPairs(
          Multimodal.asBlobs(
            table(s, dir, "documents")
              .filter(length(col("text")) === octet_length(col("text"))),
            "doc_id", "text", "image"), maxDist = 3)
        .orderBy(col("id_a"), col("id_b")),
      """WITH dt AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, length(text) - 3),
             i -> substring(text, i, 4))) AS wins
           FROM documents
           WHERE length(text) >= 4 AND length(text) = strlen(text)),
         hx AS (
           SELECT doc_id, list_transform(wins, w ->
             [CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT),
              CAST(('0x' || substring(md5(w), 9, 8)) AS BIGINT)]) AS hs
           FROM dt),
         bits AS (
           SELECT doc_id, list_transform(generate_series(0, 63), j ->
             CASE WHEN list_sum(list_transform(hs, h ->
               CASE WHEN ((CASE WHEN j >= 32 THEN h[1] >> (j - 32)
                                ELSE h[2] >> j END) & 1) = 1
                 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) AS sb
           FROM hx),
         pp AS (
           SELECT a.doc_id AS id_a, a.sb AS ba, b.doc_id AS id_b, b.sb AS bb
           FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
             CAST(list_sum(list_transform(generate_series(1, 64),
               i -> CASE WHEN ba[i] = bb[i] THEN 0 ELSE 1 END)) AS BIGINT)
               AS hamming
           FROM pp)
         WHERE hamming <= 3 ORDER BY id_a, id_b"""),

    // multimodal dedup END-TO-END: byte-SimHash near-dup pairs ->
    // connected components -> min-id representative per blob cluster
    // (the text neardup_dedup chain at blob granularity).
    // mm dedup: the proven bit-vote pair CTEs + the recursive
    // closure + min-id keep (the verified_dedup device at blob
    // granularity); universe = the ascii-eligible blob set.
    Query("llm_mm_dedup", (s, dir) => {
      val blobs = Multimodal.asBlobs(
        table(s, dir, "documents")
          .filter(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text", "image")
      Dedup.keepRepresentatives(blobs,
          Dedup.connectedComponents(
            Multimodal.blobNearDupPairs(blobs, maxDist = 3)),
          idCol = "media_id")
        .select(col("media_id"))
        .orderBy(col("media_id"))
    },
      s"""WITH RECURSIVE dt AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, length(text) - 3),
             i -> substring(text, i, 4))) AS wins
           FROM documents
           WHERE length(text) >= 4 AND length(text) = strlen(text)),
         hx AS (
           SELECT doc_id, list_transform(wins, w ->
             [CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT),
              CAST(('0x' || substring(md5(w), 9, 8)) AS BIGINT)]) AS hs
           FROM dt),
         bits AS (
           SELECT doc_id, list_transform(generate_series(0, 63), j ->
             CASE WHEN list_sum(list_transform(hs, h ->
               CASE WHEN ((CASE WHEN j >= 32 THEN h[1] >> (j - 32)
                                ELSE h[2] >> j END) & 1) = 1
                 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) AS sb
           FROM hx),
         pp AS (
           SELECT a.doc_id AS id_a, a.sb AS ba, b.doc_id AS id_b,
             b.sb AS bb
           FROM bits a JOIN bits b ON a.doc_id < b.doc_id),
         vp AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> CASE WHEN ba[i] = bb[i] THEN 0 ELSE 1 END))
                 AS BIGINT) AS hamming
             FROM pp)
           WHERE hamming <= 3),
         ${closureCtes("vp")}
         SELECT d.doc_id AS media_id FROM documents d
         WHERE length(d.text) = strlen(d.text)
           AND NOT EXISTS (SELECT 1 FROM comp c
                           WHERE c.id = d.doc_id AND c.component < c.id)
         ORDER BY media_id"""),

    // BM25 top-5 lexical retrieval: 8-token prefix queries from every
    // 100th doc against the rest — the sparse counterpart of llm_topk.
    // (Short queries are the realistic shape; the synthetic corpus's
    // 31-token vocabulary would otherwise make every doc match every
    // query on every term. Even with 8-token queries this corpus is
    // the 100%-overlap worst case — every query still matches every
    // doc, so the bench time is 50 genuine full-corpus scorings; on
    // real text the match stream is sparse.)
    // BM25 replay: identical formula tree (left-assoc, same literal
    // subexpressions), per-term contributions summed via
    // DECIMAL(38,18), round-6 before ranking, ties to lower doc id.
    Query("llm_bm25", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.bm25TopK(
          docs.filter(col("doc_id") % 100 =!= 0),
          prefixQueries(docs.filter(col("doc_id") % 100 === 0), 8),
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      bm25SetOracle),

    // incremental lexical index: the corpus ingested as TWO postings
    // batches (doc-disjoint halves), then top-k served from the
    // standing layer — hash-matched against the one-shot oracle, so
    // the layered index is proven bit-identical to a full rebuild.
    // layered BM25 serves BIT-IDENTICAL scores to the one-shot run
    // over the union corpus (postings doc-local, stats additive, the
    // scoring half is the shared code path) — so the layered query
    // replays against the SAME oracle SQL.
    Query("llm_bm25_layered", (s, dir) => {
      val docs = table(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 100 =!= 0)
      val idxDir = freshScratch("bm25layer", dir)
      // the two doc-disjoint batch publishes write disjoint
      // ingest_batch partitions — concurrent jobs, not sequential
      graft.task.Fanout.all(s, Seq(
        () => TextAnalysis.bm25PostingsBatch(
          corpus.filter(col("doc_id") % 2 === 0), idxDir,
          batchId = 0L),
        () => TextAnalysis.bm25PostingsBatch(
          corpus.filter(col("doc_id") % 2 =!= 0), idxDir,
          batchId = 1L)))
      TextAnalysis.bm25TopKFromPostings(s, idxDir,
          prefixQueries(docs.filter(col("doc_id") % 100 === 0), 8),
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      bm25SetOracle),

    // impact-pruned BM25 serve (MaxScore family, prove-or-fall-back)
    // in a MIXED regime so BOTH arms are oracle-proven at data scale:
    // the corpus carries one rare salt token per doc (`rk<id%499>`,
    // df ~ N/499 — well under sliceM), 12 rare-token queries engage
    // the slice arm with a PROVEN zero bound, and the 5 natural
    // full-overlap-vocab queries exercise the fallback arm; the
    // oracle replays the plain full-scan BM25 over the same salted
    // corpus and mixed query set, so the hash match proves
    // prune-or-fallback == exact on every query.
    // the impact-pruned serve is prove-or-fall-back EXACT, so it
    // hash-matches the plain full-scan BM25 replay over the same
    // salted corpus and mixed (rare + saturated) query set.
    Query("llm_bm25_pruned", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val base = scratchPath("bm25prune", dir)
      val idxDir = s"$base/postings_layer"
      // STANDING layer behind a fingerprinted _READY sentinel: the
      // deployed shape serves a standing index, so the bench min
      // column times the PRUNED SERVE; the single-shot includes the
      // one-time build. The sentinel carries the corpus fingerprint
      // (regenerated testdata rebuilds instead of serving stale).
      standingLayer(s, base, Seq(s"$dir/documents.parquet"),
          layout = "bm25-v2") {
        TextAnalysis.bm25PostingsBatch(
          docs.filter(col("doc_id") % 100 =!= 0)
            .withColumn("text", concat(col("text"), lit(" rk"),
              pmod(col("doc_id"), lit(499L)))),
          idxDir, batchId = 0L)
      }
      val qNat = prefixQueries(
        docs.filter(col("doc_id") % 100 === 0 && col("doc_id") <= 400), 8)
      val qRare = (0 until 12).map(q => (1000L + q,
        (0 until 8).map(j => s"rk${(q * 53 + j * 17) % 499}")
          .mkString(" "))).toDF("query_id", "text")
      TextAnalysis.bm25TopKFromPostingsPruned(s, idxDir,
          qNat.unionByName(qRare), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      bm25PrunedOracle),

    // impact-pruned BAG-QUERY (qtf-weighted) BM25 serve over the SAME
    // salted standing layer as llm_bm25_pruned: 12 rare-token queries
    // built from 8 distinct salts each repeated twice (qtf = 2, so
    // the weighted tails actually scale; 8 distinct salts keep the
    // candidate count >= k even at sf0.01's ~1-doc-per-salt density,
    // so the slice arm is LIVE in the oracle run) and 3 natural
    // 12-token-prefix queries (in-query repeats occur at the 31-token
    // vocab) that saturate and take the full-scan route. Oracle = the
    // llm_bm25_weighted formula tree over the salted corpus and this
    // mixed query set, so the hash match proves the weighted
    // prove-or-fall-back serve exact on both arms.
    Query("llm_bm25_pruned_weighted", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val base = scratchPath("bm25prune", dir)
      val idxDir = s"$base/postings_layer"
      standingLayer(s, base, Seq(s"$dir/documents.parquet"),
          layout = "bm25-v2") {
        TextAnalysis.bm25PostingsBatch(
          docs.filter(col("doc_id") % 100 =!= 0)
            .withColumn("text", concat(col("text"), lit(" rk"),
              pmod(col("doc_id"), lit(499L)))),
          idxDir, batchId = 0L)
      }
      val qNat = prefixQueries(
        docs.filter(col("doc_id") % 200 === 0 && col("doc_id") <= 400), 12)
      val qRare = (0 until 12).map(q => (2000L + q,
        (0 until 16).map(j => s"rk${(q * 53 + (j % 8) * 17) % 499}")
          .mkString(" "))).toDF("query_id", "text")
      TextAnalysis.bm25TopKFromPostingsPrunedWeighted(s, idxDir,
          qNat.unionByName(qRare), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      bm25PrunedWeightedOracle),

    // takedown propagation over a batch-keyed layer: the corpus
    // ingested as THREE modulo batches, batches 0-1 compacted (so the
    // reserved negative partition is exercised), then doc_id % 17 = 3
    // taken down IN PLACE — only partitions holding a removed row are
    // rewritten. Reading the layer back (partition residency
    // included) hash-matches a pure anti-join over documents, proving
    // in-place takedown == rebuild over corpus MINUS ids.
    // takedown == rebuild over corpus MINUS ids, per layer. The layer
    // row also proves partition RESIDENCY: batches 0-1 compacted into
    // the reserved -(wm+1) partition, batch 2 live, removed ids gone.
    Query("llm_takedown", (s, dir) => {
      val docs = table(s, dir, "documents")
      val base = moduloLayer(docs, "takedown_layer", dir, nBatches = 3)
      graft.streaming.IngestStream.ingestLayerCompact(s, base,
        watermark = 1L)
      Takedown.layerTakedown(s, base,
        docs.filter(col("doc_id") % 17 === 3).select("doc_id"),
        "doc_id")
      layerResidency(s.read.parquet(base))
    },
      compactedLayerOracle(nBatches = 3, where = "doc_id % 17 <> 3")),

    // takedown over the CMS frequency layer: two batch sketches plus
    // the corpus layer they summarize, then doc_id % 9 = 5 removed by
    // CELL-WISE SUBTRACTION (sketch(corpus MINUS ids) = layer −
    // sketch(removed docs), exactly — count-min cells are plain sums
    // over disjoint doc multisets) folded through the cmsCompact
    // crash protocol. The read-back layer hash-matches a from-scratch
    // sketch of the remaining corpus, cell for cell.
    // the subtracted-and-folded layer must equal a from-scratch
    // sketch of the surviving corpus: the cmsOracle bucket chain
    // (same seeded affine maps as literals) over documents MINUS the
    // taken-down ids.
    Query("llm_takedown_cms", (s, dir) => {
      val docs = table(s, dir, "documents")
      val base = freshScratch("takedown_cms", dir)
      // the corpus faces publish as ONE fused pass (same dirs/rows
      // as the two filtered writes); the two batch sketches are
      // doc-disjoint aggregates over their own partition dirs and
      // run as concurrent jobs alongside it
      graft.task.Fanout.all(s, Seq(
        () => graft.Writes.clusterByPartitions(
            docs.select(col("doc_id"), col("text"),
              (col("doc_id") % 2).as("ingest_batch")), "ingest_batch")
          .write.partitionBy("ingest_batch").parquet(s"$base/corpus"),
        () => graft.streaming.IngestStream.cmsBatch(
          docs.filter(col("doc_id") % 2 === 0), s"$base/sketch",
          batchId = 0L),
        () => graft.streaming.IngestStream.cmsBatch(
          docs.filter(col("doc_id") % 2 === 1), s"$base/sketch",
          batchId = 1L)))
      Takedown.cmsTakedown(s, s"$base/sketch", s"$base/corpus",
        docs.filter(col("doc_id") % 9 === 5).select("doc_id"))
      graft.streaming.IngestStream.cmsLayerRead(s, s"$base/sketch")
        .select(col("row").as("rw"), col("bucket"), col("cnt"))
        .orderBy(col("rw"), col("bucket"))
    },
      {
      val (as, bs) = graft.functions.SketchOps.coeffs(4, 7L)
      val p = graft.functions.SketchOps.P
      val rows = (0 until 4).map(i => s"($i, ${as(i)}, ${bs(i)})")
        .mkString(", ")
      raw"""WITH inst AS (
           SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
             t -> t <> '')) AS token
           FROM documents WHERE doc_id % 9 <> 5),
         prm(rw, a, b) AS (VALUES $rows),
         bkt AS (SELECT token, prm.rw AS rw,
             ((prm.a * CAST(('0x' || substring(md5(token), 1, 8))
               AS BIGINT) + prm.b) % $p) % 16 AS bucket
           FROM inst CROSS JOIN prm)
         SELECT rw, bucket, count(*) AS cnt
         FROM bkt GROUP BY rw, bucket
         ORDER BY rw, bucket"""
    }),

    // index-fit drift gauge: the RETRAIN TRIGGER — per-corpus
    // (n, mean nearest-cell sq-distance, beyond-τ mass) against the
    // trained 16×2 cells; the codegen'd nearest_cell_dist kernel
    // shares the assignment arithmetic, so the whole report replays
    // in the kmeans oracle chain bit-for-bit.
    // drift gauge replay: the trained-cell chain, per-vector MIN
    // sq-distance (round 6, order-free), decimal-summed mean and
    // exact beyond-τ counts.
    Query("llm_index_drift", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.indexFitReport(emb,
        Similarity.kmeansCentroids(emb, nCells = 16, iters = 2),
        tau = 0.47)
    },
      {
      val (ctes, cN) = kmeansAsgCtes(2)
      s"""WITH $ctes,
         md AS (
           SELECT e.vec_id,
             round(MIN(${sqdSql("e.embedding", "c.cvec")}), 6) AS msd
           FROM embeddings e CROSS JOIN $cN c
           GROUP BY e.vec_id)
         SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(CAST(SUM(CAST(msd AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_sqdist,
           CAST(SUM(CASE WHEN msd > 0.47 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_beyond,
           round(CAST(SUM(CASE WHEN msd > 0.47 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS frac_beyond
         FROM md"""
    }),

    // PQ distortion gauge: the codebook retrain trigger — per-corpus
    // quantization error under the trained books (Σ per-subspace
    // nearest-codeword sq-distance, the ADC approximation loss);
    // replays in the PQ training chain with an explicit left-fold
    // subspace sum.
    // distortion replay: trained books (the pqCtes chain), per
    // (vec, subspace) MIN codeword sq-distance, LEFT-FOLD subspace
    // sum (matches the Scala reduce order), decimal mean + exact
    // beyond-τ counts.
    Query("llm_pq_drift", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.pqFitReport(emb,
        Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2),
        tau = 1.0)
    },
      {
      def m(s: Int) = s"MAX(CASE WHEN s = $s THEN md END)"
      s"""WITH ${pqCtes(4, 16, 2, 16)},
         ms AS (
           SELECT sv.vec_id, sv.s,
             MIN(${sqdSql("sv.v", "c.cvec")}) AS md
           FROM sv JOIN cents2 c ON c.s = sv.s
           GROUP BY sv.vec_id, sv.s),
         pv AS (
           SELECT vec_id,
             round(((${m(0)} + ${m(1)}) + ${m(2)}) + ${m(3)}, 6)
               AS qe
           FROM ms GROUP BY vec_id)
         SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(CAST(SUM(CAST(qe AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_qerr,
           CAST(SUM(CASE WHEN qe > 1.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_beyond,
           round(CAST(SUM(CASE WHEN qe > 1.0 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS frac_beyond
         FROM pv"""
    }),

    // cluster-expanded takedown: a removal request names DOCUMENTS
    // but the obligation is to the CONTENT — expand the id set
    // through the corpus-version near-dup components so every
    // verbatim-ish copy goes too; singleton requests pass through.
    // The closure replays as the llm_dedup_clusters recursive CTE.
    // expansion == seeds ∪ every member of a seed-hit component
    // (the llm_dedup_clusters closure, filtered to hit components).
    Query("llm_takedown_expand", (s, dir) => {
      val docs = table(s, dir, "documents")
      Takedown.expandToClusters(
          docs.filter(col("doc_id") % 97 === 2).select("doc_id"),
          components035(s, dir))
        .orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE $minhashScoredCtes,
         ${mhPairsCte("pairs")},
         ${closureCtes("pairs")},
         seeds AS (SELECT doc_id AS id FROM documents
                   WHERE doc_id % 97 = 2),
         hit AS (SELECT DISTINCT component
                 FROM comp JOIN seeds USING (id)),
         ex AS (SELECT DISTINCT id FROM (
                SELECT CAST(c.id AS BIGINT) AS id
                FROM comp c JOIN hit USING (component)
                UNION ALL
                SELECT CAST(id AS BIGINT) FROM seeds))
         SELECT id AS doc_id FROM ex
         ORDER BY doc_id"""),

    // AS-OF layer read: time travel to an ingest horizon — batches
    // 0-1 compacted (coverage 1 <= horizon 2), batch 2 live and in,
    // batch 3 beyond the horizon and excluded whole; residency rides
    // the read via basePath. Hash-matched against the modulo filter.
    // as-of == batches at or inside the horizon, residency and all.
    Query("llm_layer_asof", (s, dir) => {
      val docs = table(s, dir, "documents")
      val base = moduloLayer(docs, "layer_asof", dir, nBatches = 4)
      graft.streaming.IngestStream.ingestLayerCompact(s, base,
        watermark = 1L)
      layerResidency(
        graft.streaming.IngestStream.layerReadAsOf(s, base, asOf = 2L))
    },
      compactedLayerOracle(nBatches = 4, where = "doc_id % 4 <= 2")),

    // takedown DRY-RUN: the per-partition removal preview (what a
    // legal review signs off on) over a 3-batch layer — one
    // broadcast-filtered scan, ≤ |partitions| output rows, nothing
    // mutated. Hash-matched against the pure modulo rollup.
    // preview == the modulo rollup of would-be removals per batch.
    Query("llm_takedown_preview", (s, dir) => {
      val docs = table(s, dir, "documents")
      val base = moduloLayer(docs, "takedown_preview", dir, nBatches = 3)
      Takedown.takedownPreview(s, base,
          docs.filter(col("doc_id") % 13 === 2).select("doc_id"),
          "doc_id")
        .orderBy(col("ingest_batch"))
    },
      """SELECT CAST(doc_id % 3 AS BIGINT) AS ingest_batch,
           CAST(SUM(CASE WHEN doc_id % 13 = 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN doc_id % 13 = 2 THEN 0 ELSE 1 END)
             AS BIGINT) AS n_remaining
         FROM documents
         GROUP BY 1 HAVING n_removed > 0
         ORDER BY ingest_batch"""),

    // retention age-out: the corpus ingested as FOUR modulo batches,
    // batches 0-1 compacted (coverage k=1), then keepFrom=2 drops the
    // compact partition whole (k < keepFrom: entirely pre-cutoff) and
    // keeps batches 2-3 byte-untouched — whole-partition deletes, no
    // rewrite, the only affordable age-out at 100 TB. Read-back with
    // partition residency hash-matches the pure modulo filter.
    // retention == keep only the post-cutoff batches, partitions and
    // all: batches 2-3 survive with their residency, everything the
    // compact partition folded (batches 0-1) is gone whole.
    Query("llm_retention", (s, dir) => {
      val docs = table(s, dir, "documents")
      val base = moduloLayer(docs, "retention_layer", dir, nBatches = 4)
      graft.streaming.IngestStream.ingestLayerCompact(s, base,
        watermark = 1L)
      graft.streaming.IngestStream.layerRetention(s, base,
        keepFrom = 2L)
      layerResidency(s.read.parquet(base))
    },
      """SELECT doc_id,
           CAST(doc_id % 4 AS BIGINT) AS ingest_batch,
           length(text) AS n_chars
         FROM documents WHERE doc_id % 4 >= 2
         ORDER BY doc_id"""),

    // takedown over the STANDING BM25 postings layer: build the
    // llm_bm25_layered two-batch index, take down doc_id % 15 = 7
    // (postings rows dropped, per-batch stats debited by exactly the
    // removed docs' mass, one commit marker), then serve top-k from
    // the patched layer — hash-matched against a pure-SQL rebuild
    // over corpus MINUS ids, the strongest takedown-equivalence
    // device (the llm_ivf_patch pattern applied to deletion).
    // the patched postings layer must serve what a one-shot build
    // over the surviving corpus serves — same formula tree as
    // llm_bm25, corpus restricted to the non-taken-down docs.
    Query("llm_takedown_bm25", (s, dir) => {
      val docs = table(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 100 =!= 0)
      val idxDir = freshScratch("takedown_bm25", dir)
      // the two doc-disjoint batch publishes write disjoint
      // ingest_batch partitions — concurrent jobs, not sequential
      graft.task.Fanout.all(s, Seq(
        () => TextAnalysis.bm25PostingsBatch(
          corpus.filter(col("doc_id") % 2 === 0), idxDir,
          batchId = 0L),
        () => TextAnalysis.bm25PostingsBatch(
          corpus.filter(col("doc_id") % 2 =!= 0), idxDir,
          batchId = 1L)))
      Takedown.bm25Takedown(s, idxDir,
        corpus.filter(col("doc_id") % 15 === 7).select("doc_id"))
      // serve face: the FULL postings scan, by measurement — the
      // impact-pruned serve is exactness-safe here (oracle-green when
      // swapped in; prune-proven queries return the identical top-k,
      // the rest fall back to this very scan), but on this query's
      // declared batch (63 natural 8-token-prefix queries over a
      // ~5k-doc full-overlap vocabulary) it measured 6.645 s vs
      // 4.429 s (N=3 mins, r21): most terms carry df >> sliceM, the
      // router still routes a subset into the slice arm, and the
      // arm's posting persist + slice window + bound machinery costs
      // more than the avoided scoring. The pruned face stays the
      // right serve for selective-query regimes (ScaleBench
      // bm25_pruned_serve shows it flat vs the full serve's
      // corpus-linear growth); routing THIS declared batch to it is
      // a measured loss, not an optimization.
      TextAnalysis.bm25TopKFromPostings(s, idxDir,
          prefixQueries(docs.filter(col("doc_id") % 100 === 0), 8),
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      bm25SetOracleWhere("doc_id % 15 <> 7")),

    // bag-query BM25: 12-token prefixes so in-query term repeats
    // actually occur and the qtf weighting is exercised, not vacuous
    // (the corpus stays the 100%-overlap worst case, so the query set
    // is halved to keep the genuine full-corpus scorings bounded).
    // bag-query BM25 replay: per-term contribution times the query
    // term frequency as a DOUBLE product, decimal-cast AFTER the
    // product (a decimal×bigint would widen differently per engine).
    Query("llm_bm25_weighted", (s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.bm25TopKWeighted(
          docs.filter(col("doc_id") % 100 =!= 0),
          prefixQueries(docs.filter(col("doc_id") % 200 === 0), 12),
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      raw"""WITH $docTokCte,
         corpus AS (SELECT doc_id, tk FROM tok WHERE doc_id % 100 <> 0),
         q AS (SELECT doc_id AS query_id, tk[1:12] AS tk FROM tok
               WHERE doc_id % 200 = 0),
         ${bm25ScoreCtes(weighted = true)}
         $bm25Top5"""),

    // hybrid retrieval: the llm_bm25 lexical ranker and the llm_topk
    // dense ranker, each producing a top-20 candidate list over the
    // SAME corpus slice (doc_id == vec_id), fused by reciprocal rank
    // (RRF, c=60) into the final top-10 — no score calibration
    // between the log-idf and cosine scales, by construction.
    // RRF hybrid replay: the llm_bm25 sc chain ranked to 20, the
    // llm_topk cosine chain ranked to 20 (corpus excludes query ids
    // on both sides), full-outer fused with 1/(60+rank) terms added
    // lexical-then-dense before the round — the engine's exact
    // double-add order.
    Query("llm_rrf_fusion", (s, dir) => {
      val docs = table(s, dir, "documents")
      val emb = table(s, dir, "embeddings")
      val lex = TextAnalysis.bm25TopK(
        docs.filter(col("doc_id") % 100 =!= 0),
        prefixQueries(docs.filter(col("doc_id") % 100 === 0), 8),
        k = 20)
      val dense = Similarity.bruteTopK(
        emb.filter(col("vec_id") % 100 =!= 0),
        queryVecs(emb),
        k = 20)
      Similarity.rrfFuse(
          lex.select(col("query_id"), col("doc_id"), col("rank")),
          dense.select(col("query_id"),
            col("vec_id").as("doc_id"), col("rank")),
          k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      raw"""WITH $rrfLexCtes,
         den0 AS (
           SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
             round(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
               AS cosine
           FROM embeddings a, embeddings b
           WHERE b.vec_id % 100 = 0 AND a.vec_id % 100 <> 0),
         ${rrfDenseCte("den0")},
         $rrfFusedSelect"""),

    // hybrid retrieval, DEPLOYED SHAPE: the same RRF fusion fed from
    // the STANDING layers a production system would hold — the BM25
    // postings layer (two ingest batches, served via
    // bm25TopKFromPostings: no corpus rescan, no tf recompute) and
    // the persisted IVF index (sidecar-derived centroids, probed-cell
    // partition pruning). The inline-ranker twin above is the audit
    // form; this is the shape whose cost survives 100 TB, and the
    // oracle replays both rankers relationally (full BM25 + unrolled
    // Lloyd chain with nProbe=4) so the layered serves are proven,
    // not assumed, equal to their one-shot forms.
    Query("llm_rrf_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val emb = table(s, dir, "embeddings")
      val base = scratchPath("rrfidx", dir)
      val bmDir = s"$base/bm25"
      val ivfDir = s"$base/ivf"
      // STANDING layers: built once per corpus CONTENT (the _READY
      // sentinel carries the source fingerprints), then every
      // invocation serves from them — the deployed cost shape. The
      // bench's min column therefore times the hybrid SERVE; the
      // single-shot column includes the one-time build. A wrong or
      // stale layer cannot hide: the serve is hash-checked against
      // the full relational replay of both rankers.
      standingLayer(s, base,
        Seq(s"$dir/documents.parquet", s"$dir/embeddings.parquet"),
        layout = "rrfidx-v2") {
        val corpus = docs.filter(col("doc_id") % 100 =!= 0)
        // the two postings batches and the ivf train+write touch
        // disjoint dirs/inputs — build the standing layers as
        // concurrent jobs (one-time cost, but the single-shot
        // column pays it)
        graft.task.Fanout.all(s, Seq(
          () => TextAnalysis.bm25PostingsBatch(
            corpus.filter(col("doc_id") % 2 === 0), bmDir,
            batchId = 0L),
          () => TextAnalysis.bm25PostingsBatch(
            corpus.filter(col("doc_id") % 2 =!= 0), bmDir,
            batchId = 1L),
          () => {
            val cents = Similarity.kmeansCentroids(emb, nCells = 16,
              iters = 2)
            Similarity.ivfWriteIndex(
              emb.filter(col("vec_id") % 100 =!= 0), cents, ivfDir)
          }))
      }
      // the lexical arm serves through the impact-pruned face — the
      // deployed shape (prove-or-fall-back is exact, so the oracle
      // replay of the FULL scan still hash-matches by construction;
      // on this synthetic full-overlap vocabulary every natural
      // query takes the routed full-scan path, on real text rare
      // query terms engage the slice arm)
      val lex = TextAnalysis.bm25TopKFromPostingsPruned(s, bmDir,
        prefixQueries(docs.filter(col("doc_id") % 100 === 0), 8),
        k = 20)
      val dense = Similarity.ivfTopKIndexedAuto(s, ivfDir,
        queryVecs(emb),
        k = 20, nProbe = 4)
      Similarity.rrfFuse(
          lex.select(col("query_id"), col("doc_id"), col("rank")),
          dense.select(col("query_id"),
            col("vec_id").as("doc_id"), col("rank")),
          k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      rrfIndexedOracle),

    // count-min sketch audit: 4x16 counter state (vs the 31-token
    // vocab, so collisions actually occur and the one-sided error is
    // visible) graded against exact counts for the top-20 tokens.
    Query("llm_cms", (s, dir) =>
      HeavyHitters.cmsCompare(
          table(s, dir, "documents")
            .select(explode(TextAnalysis.tokens(col("text")))
              .as("token")),
          topN = 20, depth = 4, width = 16, seed = 7L)
        .orderBy(col("token")),
      cmsOracle),

    // event-time windowed trending (batch form of the streaming
    // operator — same plan): a cold-start CMS history (first hour)
    // vs daily tumbling windows over the rest; the sketch rides the
    // plan as a d×w literal, so this also oracle-proves the
    // streaming path's lookup arithmetic cell-for-cell.
    Query("llm_windowed_trending", (s, dir) => {
      val ev = Star.events(s, dir)
      val hist = HeavyHitters.cmsSketch(
        ev.filter(col("ts") <
            lit("2024-01-01 01:00:00").cast("timestamp"))
          .select(col("event_type").as("token")))
      HeavyHitters.windowedTrending(
          ev.filter(col("ts") >= lit("2024-01-02").cast("timestamp")),
          "ts", "event_type", "1 day", hist,
          minCount = 2L, minRatio = 2.0)
        .orderBy(col("window_start"), col("event_type"))
    },
      windowedTrendingOracle),

    // per-doc dedup provenance: first claiming stage (exact ->
    // near-dup components -> kept) + the direct representative —
    // the audit trail over the llm_exact_dedup / llm_neardup_dedup
    // chain, from the same memoized component artifact.
    Query("llm_dedup_lineage", (s, dir) =>
      Dedup.dedupLineage(table(s, dir, "documents"),
          components035(s, dir))
        .orderBy(col("doc_id")),
      dedupLineageOracle),

    // prefix-hash duplicate groups: docs sharing their first 8
    // tokens (mirror/truncation dupes) — the cheap crawl first pass.
    // prefix groups: first-8-token string grouping (the engine keys
    // on xxhash64 of the same prefix — value grouping == hash
    // grouping modulo the documented collision convention).
    Query("llm_prefix_dedup", (s, dir) =>
      Dedup.prefixGroups(table(s, dir, "documents"), nTok = 8)
        .orderBy(col("keep_id")),
      raw"""WITH $docTokCte,
         g AS (SELECT min(doc_id) AS keep_id, count(*) AS n_docs
           FROM (SELECT doc_id, array_to_string(tk[1:8], ' ') AS p
                 FROM tok)
           GROUP BY p)
         SELECT keep_id, n_docs FROM g WHERE n_docs > 1
         ORDER BY keep_id"""),

    // ANN recall@10: the IVF(16 cells, probe 4) ranking graded
    // against exact cosine top-10 per query — the harness that
    // justifies an index config before committing a corpus scan.
    Query("llm_ann_recall", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = queryVecs(emb)
      Similarity.annRecall(
          Similarity.bruteTopK(emb, q, k = 10),
          Similarity.ivfTopK(emb, q, k = 10, nCells = 16, nProbe = 4),
          k = 10)
        .orderBy(col("query_id"))
    },
      annRecallOracle),

    // graded IR eval (MRR / P@k / recall@k / nDCG@k) — rankEval over
    // a fully-relational demo harness: queries = every 50th doc,
    // ranked list = same-source nearest-length top-10 (the window is
    // HARNESS-side; the op itself is |queries|·k-bounded), relevance
    // = same-source same-lang docs.
    Query("llm_rank_eval", (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"))
      val q = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"), col("source").as("_qs"),
          col("lang").as("_ql"), col("n_chars").as("_qn"))
      val cand = broadcast(q).join(d, col("source") === col("_qs") &&
        col("doc_id") =!= col("query_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(abs(col("n_chars") - col("_qn")).asc,
          col("doc_id").asc)
      val ranked = cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val rels = broadcast(q).join(d, col("source") === col("_qs") &&
          col("lang") === col("_ql") &&
          col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      Similarity.rankEval(ranked, rels, k = 10)
        .orderBy(col("query_id"))
    },
      rankEvalOracle),

    // k-anonymity / l-diversity release gate over the events table:
    // can an attacker knowing (event_type, day) narrow below k
    // candidate rows, and does the class leak its users?
    // privacy-audit replay: identical grouping + exact distinct +
    // both threshold verdicts.
    Query("llm_privacy_audit", (s, dir) =>
      graft.functions.Profile.privacyAudit(
          Star.events(s, dir)
            .select(col("event_type"),
              date_trunc("day", col("ts")).as("day"), col("user_id")),
          quasiCols = Seq("event_type", "day"),
          sensitiveCol = "user_id", k = 5, l = 3)
        .orderBy(col("event_type"), col("day")),
      """SELECT event_type, date_trunc('day', ts) AS day,
           count(*) AS n,
           count(DISTINCT user_id) AS n_sensitive,
           count(*) >= 5 AS k_ok,
           count(DISTINCT user_id) >= 3 AS l_ok
         FROM events
         GROUP BY event_type, date_trunc('day', ts)
         ORDER BY event_type, day"""),

    // calibration / reliability report: the within-source length
    // percentile as a "probability" that the doc clears the 120-token
    // bar — per-bin mean confidence vs empirical rate (ECE folds
    // from the rows). The harness predictor is relational on purpose
    // (replayable); the op grades ANY probabilistic gate.
    // calibration replay: same source-keyed cume_dist predictor,
    // same bin rule, decimal confidence sums, unrounded-gap order.
    Query("llm_calibration", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      val scored = table(s, dir, "documents")
        .select(col("doc_id"),
          round(cume_dist().over(w), 6).as("p"),
          (TextAnalysis.tokenCount(col("text")) >= 120).as("y"))
      graft.functions.Profile.calibrationReport(scored, "p", "y",
          bins = 10)
        .orderBy(col("bin"))
    },
      raw"""WITH sc AS (
           SELECT doc_id,
             round(cume_dist() OVER (PARTITION BY source
               ORDER BY n_chars ASC, doc_id ASC), 6) AS p,
             len(list_filter(regexp_split_to_array(text, '\s+'),
               t -> t <> '')) >= 120 AS y
           FROM documents),
         b AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
             p, y FROM sc)
         SELECT bin, count(*) AS n,
           round(CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE)
             / count(*), 6) AS conf,
           round(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS acc,
           round(abs(CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE)
               / count(*) -
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*)), 6) AS gap
         FROM b GROUP BY bin ORDER BY bin"""),

    // Cohen's kappa between a doc's own lang tag and its source's
    // majority lang — the chance-corrected source-homogeneity gauge
    // (po alone is inflated exactly when one lang dominates).
    // kappa replay: same majority-lang window, same marginal-product
    // pe, po/pe rounded BEFORE the kappa derivation (the engine's
    // exact arithmetic order).
    Query("llm_label_kappa", (s, dir) => {
      val d = table(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("_n").desc, col("lang").asc)
      val maj = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("_n"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("source"), col("lang").as("major_lang"))
      TextAnalysis.cohenKappa(
        d.join(broadcast(maj), Seq("source")), "lang", "major_lang")
    },
      """WITH maj AS (SELECT source, lang AS major_lang FROM (
             SELECT source, lang, row_number() OVER (
               PARTITION BY source
               ORDER BY count(*) DESC, lang ASC) AS rk
             FROM documents GROUP BY source, lang) m
           WHERE rk = 1),
         l AS (SELECT d.lang AS a, m.major_lang AS b
           FROM documents d JOIN maj m USING (source)
           WHERE d.lang IS NOT NULL AND m.major_lang IS NOT NULL),
         base AS (SELECT count(*) AS n,
             SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM l),
         pe AS (SELECT coalesce(SUM(CAST(na AS DECIMAL(38,0)) *
               CAST(nb AS DECIMAL(38,0))), 0) AS pe_num FROM
             (SELECT a AS cat, count(*) AS na FROM l GROUP BY a) ma
             JOIN (SELECT b AS cat, count(*) AS nb FROM l
                   GROUP BY b) mb USING (cat)),
         r AS (SELECT n,
             round(CAST(agree AS DOUBLE) / n, 6) AS po,
             round(CAST(pe_num AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe
           FROM base, pe)
         SELECT n, po, pe,
           round(CASE WHEN pe >= 1.0 THEN 0.0
             ELSE (po - pe) / (1.0 - pe) END, 6) AS kappa
         FROM r"""),

    // lexical vs embedding near-dup lens agreement: MinHash pairs
    // full-outer cosine pairs (doc_id == vec_id), categorized. The
    // embedding lens is the LSH-bucketed SCALE path (config pinned
    // 16x4 so the oracle's plane literals match — same device as
    // llm_lsh_cosine_pairs); the op is pair-frame-agnostic, and the
    // brute-vs-LSH lens equivalence is spec-proven (LlmSpec) so the
    // suite never pays the O(N^2) baseline here.
    // agreement replay: minhash pair CTEs full-outer the brute
    // cosine pair scan, category CASE identical to the engine's.
    Query("llm_dedup_agreement", (s, dir) =>
      Dedup.dedupAgreement(
          Dedup.minHashPairs(table(s, dir, "documents"),
            threshold = 0.35),
          Similarity.lshCosinePairs(table(s, dir, "embeddings"),
            threshold = 0.4, nTables = 16, planesPerTable = 4))
        .orderBy(col("id_a"), col("id_b")),
      dedupAgreementOracle),

    // per-source percentile gate: each doc at its within-source
    // score percentile, keep the top half of EVERY source — the
    // per-domain adaptive threshold (scored here on n_chars).
    // per-source cume_dist (strict (score, id) order) — identical
    // top-mass definition (rank/n; singleton groups keep their doc).
    Query("llm_source_percentile", (s, dir) =>
      Sampling.quantileGate(table(s, dir, "documents"), "n_chars",
          keepFrac = 0.5)
        .orderBy(col("doc_id")),
      """SELECT doc_id, source, n_chars,
           round(cume_dist() OVER (PARTITION BY source
             ORDER BY n_chars ASC, doc_id ASC), 6) AS pct,
           round(cume_dist() OVER (PARTITION BY source
             ORDER BY n_chars ASC, doc_id ASC), 6) > 0.5 AS keep
         FROM documents ORDER BY doc_id"""),

    // the 100 TB form of the per-source percentile gate: per-group
    // approx score threshold instead of the cume_dist window,
    // within_band verdict against the exact top-mass keep count.
    // approx quantile gate replay: DuckDB's own approx score cut per
    // source, the SAME exact top-mass keep target and band rule.
    Query("llm_quantile_gate_approx", (s, dir) =>
      Sampling.quantileGateApprox(table(s, dir, "documents"),
          "n_chars", keepFrac = 0.5, tolFrac = 0.1)
        .orderBy(col("source")),
      """WITH b AS (
           SELECT source, CAST(n_chars AS DOUBLE) AS s
           FROM documents),
         cuts AS (
           SELECT source,
             CAST(approx_quantile(s, 0.5) AS DOUBLE) AS cut
           FROM b GROUP BY source),
         agg AS (
           SELECT b.source, count(*) AS n,
             SUM(CASE WHEN b.s >= cuts.cut THEN 1 ELSE 0 END) AS ak
           FROM b JOIN cuts ON cuts.source = b.source
           GROUP BY b.source)
         SELECT source, n,
           CAST(n - floor(n * 0.5) AS BIGINT) AS keep_target,
           CAST(abs(ak - (n - floor(n * 0.5)))
             <= greatest(2.0, n * 0.1) AS INTEGER) AS within_band
         FROM agg ORDER BY source""")
  )

  /** [[inventory]] by name: the builds, then the oracles. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.queries

  lazy val oracleSql: Map[String, String] = inventory.oracleSql

  // ---------------------------------------------------------------
  // Oracle SQL building blocks: each CTE chain or select that two or
  // more rows of the table replay, written once.
  // ---------------------------------------------------------------

  /** `tok(doc_id, tk)`: every doc's whitespace tokens, empties dropped. */
  private val docTokCte =
    raw"""tok AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
           FROM documents)"""

  /** Self-trained bigram-LM replay (alpha = 0.5: the lmScore05
    * artifact) over [[docTokCte]] down to the per-bigram log-prob table
    * `lp(doc_id, lp)`. */
  private lazy val bigramLpCtes =
    s"""$docTokCte,
         uni AS (SELECT w, count(*) AS cu FROM (
             SELECT unnest(tk) AS w FROM tok) GROUP BY w),
         vn AS (SELECT count(*) AS v FROM uni),
         inst AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i])) AS w1,
             unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1])) AS bg
           FROM tok WHERE len(tk) >= 2),
         bc AS (SELECT bg, count(*) AS cb FROM inst GROUP BY bg),
         lp AS (
           SELECT doc_id,
             ln((CAST(cb AS DOUBLE) + 0.5) /
                (CAST(cu AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))) AS lp
           FROM inst JOIN bc USING (bg) JOIN uni ON uni.w = inst.w1, vn)"""

  /** [[bigramLpCtes]] plus the per-doc score `sc(doc_id, avg_logprob)`,
    * the log-prob sum decimal-exact. */
  private lazy val bigramScoreCtes =
    s"""$bigramLpCtes,
         sc AS (
           SELECT doc_id,
             round(CAST(SUM(CAST(lp AS DECIMAL(38,18))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
           FROM lp GROUP BY doc_id)"""

  /** The marker-word language argmax over the token list `toks` as the
    * struct `best(hits, lang)`: [[graft.llm.TextAnalysis.langId]]'s
    * marker sets, hits first, ties to the later language name. */
  private def langBestSql(toks: String): String = Seq(
      "en" -> "'the','a','of','and','to','in','is','that'",
      "es" -> "'el','la','de','y','que','en','los','se'",
      "fr" -> "'le','la','de','et','que','les','des','un'",
      "de" -> "'der','die','und','das','ist','nicht','ein','zu'",
      "zh" -> "'的','是','在','了','和','有','我','不'")
    .map { case (lang, words) =>
      s"""{'hits': len(list_filter($toks, t -> list_contains(
                [$words], t))), 'lang': '$lang'}""" }
    .mkString("list_max([\n", ",\n", "\n]) AS best")

  /** Exact cosine top-k: every 100th vector queries the corpus pairs
    * passing `pairWhere` (a: corpus, b: query). */
  private def bruteTopKOracle(k: Int, pairWhere: String = ""): String = {
    val extra = if (pairWhere.isEmpty) "" else s" AND $pairWhere"
    s"""WITH scored AS (
           SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             $cosineSql AS cosine
           FROM embeddings a, embeddings b
           WHERE b.vec_id % 100 = 0$extra)
         SELECT query_id, rank, vec_id, cosine FROM (
           SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS rank
           FROM scored)
         WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Brute-force exact 3-shingle Jaccard pairs at `threshold`: every
    * doc pair, distinct-shingle sets, round-6. */
  private def jaccardBruteOracle(threshold: Double): String =
    s"""WITH sh AS (
           SELECT doc_id, $shingleSql AS s
           FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)), 6) AS jaccard
         FROM sh a, sh b
         WHERE a.doc_id < b.doc_id
           AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) >= $threshold
         ORDER BY id_a, id_b"""

  /** Fill-in-the-middle replay: the md5-h32 gate at floor(0.5*2^32)
    * and both cut draws mod (n+1) over CHARACTER length, lo/hi-ordered,
    * then the three substrings in PSM order, or in SPM order (`spm`:
    * <PRE><SUF>suffix<MID>prefix∘middle). */
  private def fimOracle(spm: Boolean): String = {
    val layout =
      if (spm) """'<PRE><SUF>' || substring(text, CAST(hi + 1 AS INT),
               CAST(n - hi AS INT)) ||
             '<MID>' || substring(text, 1, CAST(lo AS INT)) ||
             substring(text, CAST(lo + 1 AS INT),
               CAST(hi - lo AS INT))"""
      else """'<PRE>' || substring(text, 1, CAST(lo AS INT)) ||
             '<SUF>' || substring(text, CAST(hi + 1 AS INT),
               CAST(n - hi AS INT)) ||
             '<MID>' || substring(text, CAST(lo + 1 AS INT),
               CAST(hi - lo AS INT))"""
    s"""WITH base AS (
           SELECT doc_id, text, length(text) AS n,
             CAST(('0x' || substring(md5('fim:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hs,
             CAST(('0x' || substring(md5('fima:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % (length(text) + 1) AS ca,
             CAST(('0x' || substring(md5('fimb:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % (length(text) + 1) AS cb
           FROM documents),
         cut AS (
           SELECT doc_id, text, n,
             (text IS NOT NULL AND hs < 2147483648) AS sel,
             least(ca, cb) AS lo, greatest(ca, cb) AS hi
           FROM base)
         SELECT doc_id, sel AS fim_applied,
           CASE WHEN sel THEN lo END AS cut_lo,
           CASE WHEN sel THEN hi END AS cut_hi,
           CASE WHEN sel THEN
             $layout
           ELSE text END AS fim_text
         FROM cut ORDER BY doc_id"""
  }

  /** HLL verdict replay: per source, the token count, the exact distinct
    * count as `exactCol`, and DuckDB's own approx_count_distinct checked
    * against it by `band` (its distance from the exact count, compared).
    * Only exact values and the verdict are hashed. */
  private def hllVerdictOracle(exactCol: String, band: String): String =
    raw"""WITH tok AS (
           SELECT source, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')) AS token
           FROM documents)
         SELECT source, count(*) AS n_tokens,
           count(DISTINCT token) AS $exactCol,
           CAST(abs(approx_count_distinct(token)
                    - count(DISTINCT token))
                $band AS INTEGER) AS within_band
         FROM tok GROUP BY source ORDER BY source"""

  /** The curation chain's CTEs over `documents`, each the proven oracle
    * fragment of its stage: quality gate `ql`, repeated-passage removal
    * (`ch`, `badset`, `cleaned`, `nonempty`), exact dedup of the cleaned
    * text `dedup(doc_id, text_clean)`. */
  private val curationCtes =
    raw"""ql AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> t <> '')) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text,
                   '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                 / length(text) AS punct_ratio
             FROM documents)
           WHERE n_tokens >= 20 AND punct_ratio < 0.05),
         ch AS (
           SELECT doc_id, text,
             CASE WHEN len(tk) > 0 THEN
               list_transform(generate_series(0, (len(tk) - 1) // 20),
                 i -> array_to_string(tk[i*20+1 : i*20+20], ' '))
             ELSE [] END AS chunks
           FROM (SELECT doc_id, text,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tk
                 FROM ql)),
         badset AS (
           SELECT coalesce(list(c), []) AS badlist FROM (
             SELECT c FROM (SELECT unnest(chunks) AS c FROM ch)
             GROUP BY c HAVING count(*) > 1)),
         cleaned AS (
           SELECT doc_id,
             CASE WHEN len(kept) = len(chunks) THEN text
                  ELSE coalesce(array_to_string(kept, ' '), '') END
               AS text_clean
           FROM (SELECT ch.doc_id, ch.text, ch.chunks,
                   list_filter(ch.chunks,
                     x -> NOT list_contains(badset.badlist, x)) AS kept
                 FROM ch, badset)),
         nonempty AS (
           SELECT doc_id, text_clean FROM cleaned
           WHERE length(text_clean) > 0),
         dedup AS (
           SELECT doc_id, text_clean FROM (
             SELECT doc_id, text_clean,
               MIN(doc_id) OVER (PARTITION BY text_clean) AS keep
             FROM nonempty)
           WHERE doc_id = keep)"""

  /** The llm_epoch_repeats expansion for weights src0/src1/src2 =
    * 0.5/0.25/0.25 at 100k target tokens: per-source epochs `e`, every
    * doc repeated over ceil(epochs) passes `r`, the fractional last
    * pass thinned by the "tail:<id>:<pass>" hash into `k`. */
  private val epochRepeatCtes =
    raw"""cnt AS (
           SELECT source, CAST(SUM(len(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')))
             AS BIGINT) AS tokens_avail
           FROM documents
           WHERE source IN ('src0', 'src1', 'src2')
           GROUP BY source),
         e AS (
           SELECT source,
             round(CAST(CAST(floor((CASE source WHEN 'src0' THEN 0.5
               WHEN 'src1' THEN 0.25 ELSE 0.25 END) * 100000.0)
               AS BIGINT) AS DOUBLE) / tokens_avail, 6) AS epochs
           FROM cnt),
         d AS (
           SELECT doc_id, source, CAST(len(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> ''))
             AS BIGINT) AS tok
           FROM documents
           WHERE source IN ('src0', 'src1', 'src2')),
         r AS MATERIALIZED (
           SELECT d.doc_id, d.source, d.tok, e.epochs,
             unnest(range(0, CAST(ceil(e.epochs) AS BIGINT)))
               AS repeat_idx
           FROM d JOIN e ON e.source = d.source),
         k AS (
           SELECT * FROM r
           WHERE repeat_idx < CAST(floor(epochs) AS BIGINT)
              OR CAST('0x' || substring(md5('tail:' ||
                   CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(repeat_idx AS VARCHAR)), 1, 8) AS BIGINT)
                 / 4294967296.0 < epochs - floor(epochs))"""

  /** dHash replay of the 12 closed-form 18 x 16 rasters: luma summed
    * into 9 x 8 cells, then `bits(m, idx, bit)`, the cross-multiplied
    * horizontal gradient bits — integers only. */
  private val phashBitsCtes =
    s"""px AS (
           SELECT m, x, y,
             ((x*37 + y*101 + m*13) % 256 +
              (x*59 + y*17 + m*29) % 256 +
              (x*7 + y*43 + m*71) % 256) AS luma,
             (x*9)//18 AS cx, (y*8)//16 AS cy
           FROM generate_series(1, 12) t(m),
                generate_series(0, 17) tx(x),
                generate_series(0, 15) ty(y)),
         cells AS (
           SELECT m, cx, cy, SUM(luma) AS s, COUNT(*) AS n
           FROM px GROUP BY m, cx, cy),
         bits AS (
           SELECT l.m, l.cy*8 + l.cx AS idx,
             CASE WHEN r.s*l.n > l.s*r.n THEN 1 ELSE 0 END AS bit
           FROM cells l JOIN cells r
             ON r.m = l.m AND r.cy = l.cy AND r.cx = l.cx + 1)"""

  /** [[phashBitsCtes]] packed into `hashes(m, hi, lo)` (two 32-bit
    * halves), cloned to both container ids as `ids(id, hi, lo)`: m and
    * m + 100. */
  private lazy val phashIdsCtes =
    s"""$phashBitsCtes,
         hashes AS (
           SELECT m,
             CAST(SUM(CASE WHEN idx >= 32
               THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN idx < 32
               THEN bit * (1::BIGINT << idx) ELSE 0 END)
               AS BIGINT) AS lo
           FROM bits GROUP BY m),
         ids AS (
           SELECT m + 100*o AS id, hi, lo
           FROM hashes, generate_series(0, 1) g(o))"""

  /** The llm_quality punct/token replay `tkq(doc_id, n_tok, n_chars,
    * n_punct)` and the llm_repetition replay `rp(doc_id, rep_ratio)`:
    * the two non-Gopher votes of the quality ensemble. */
  private val qualityVoteCtes =
    raw"""tkq AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'),
               t -> t <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text,
               '[^A-Za-z0-9\s]', '', 'g')) AS n_punct
           FROM documents),
         rp AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 3 THEN
               round(1.0 - len(list_distinct(list_transform(
                   generate_series(1, len(tk) - 2),
                   i -> array_to_string(tk[i:i+2], ' '))))
                 / CAST(len(tk) - 2 AS DOUBLE), 6)
             ELSE 0.0 END AS rep_ratio
           FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '')
                   AS tk FROM documents))"""

  /** Secret-scan replay over an `injected(doc_id, text)` CTE: long
    * base64-ish tokens `cand(doc_id, pos, t)`, their character counts
    * `cc`, and per-token Shannon entropy `ent(doc_id, e)`, the
    * n·ln(n) sum decimal-exact. */
  private val secretEntropyCtes =
    raw"""cand AS (
           SELECT doc_id, z.pos AS pos, z.t AS t FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(tk)),
               i -> {'pos': i, 't': tk[i]})) AS z
             FROM (SELECT doc_id, list_filter(
                     regexp_split_to_array(text, '\s+'), x -> x <> '')
                     AS tk
                   FROM injected))
           WHERE len(z.t) >= 20
             AND regexp_full_match(z.t, '[A-Za-z0-9+/=_.-]+')),
         cc AS (
           SELECT doc_id, pos, c, count(*) AS n FROM (
             SELECT doc_id, pos, unnest(string_split(t, '')) AS c
             FROM cand)
           GROUP BY doc_id, pos, c),
         ent AS (
           SELECT doc_id,
             round(ln(CAST(SUM(n) AS DOUBLE)) -
               CAST(SUM(CAST(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                 AS DECIMAL(38,18))) AS DOUBLE) /
               CAST(SUM(n) AS DOUBLE), 6) AS e
           FROM cc GROUP BY doc_id, pos)"""

  /** Winnowing replay over [[docTokCte]] (k = 5, w = 4): md5-60 5-gram
    * hashes `hs`, rightmost-min selected positions `sel`, prints
    * `pr(doc_id, ph)`, and the prints under the df cap `rare(ph)`. */
  private val winnowPrintCtes =
    raw"""hs AS (
           SELECT doc_id, list_transform(
             generate_series(1, len(tk) - 4),
             i -> CAST(('0x' || substring(
               md5(array_to_string(tk[i:i+4], ' ')), 1, 15)) AS BIGINT))
             AS h
           FROM tok WHERE len(tk) >= 5),
         zh AS (
           SELECT doc_id, h, list_transform(generate_series(1, len(h)),
             i -> {'h': h[i], 'p': i}) AS z
           FROM hs WHERE len(h) >= 4),
         sel AS (
           SELECT doc_id, h, list_distinct(list_transform(
             generate_series(1, len(h) - 3),
             p -> list_reduce(z[p : p + 3],
               (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END).p))
             AS selpos
           FROM zh),
         pr AS (
           SELECT doc_id, unnest(list_transform(selpos, p -> h[p]))
             AS ph
           FROM sel),
         rare AS (SELECT ph FROM pr GROUP BY ph
                  HAVING count(*) <= 50)"""

  /** DSIR replay: raw corpus (doc_id % 10 != 0) against the target
    * slice (doc_id % 10 = 0), unigram+bigram features hashed to 1024
    * md5-h32 buckets: raw instances `rawi(doc_id, b)` and add-1
    * smoothed per-bucket log-ratios `lr(b, lr)`. */
  private lazy val dsirCtes =
    s"""$docTokCte,
         gi AS (
           SELECT doc_id, unnest(list_concat(tk,
             list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1]))) AS g
           FROM tok WHERE len(tk) >= 1),
         bi AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS b
           FROM gi),
         rawi AS (SELECT * FROM bi WHERE doc_id % 10 <> 0),
         tgti AS (SELECT * FROM bi WHERE doc_id % 10 = 0),
         rc AS (SELECT b, count(*) AS cr FROM rawi GROUP BY b),
         tc AS (SELECT b, count(*) AS ct FROM tgti GROUP BY b),
         rt AS (SELECT CAST(sum(cr) AS DOUBLE) AS rtot FROM rc),
         tt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS ttot
                FROM tc),
         lr AS (
           SELECT rc.b,
             ln((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0) /
                (ttot + 1024.0)) -
             ln((CAST(cr AS DOUBLE) + 1.0) / (rtot + 1024.0)) AS lr
           FROM rc LEFT JOIN tc ON rc.b = tc.b, rt, tt)"""

  // DuckDB shingle expression shared by the jaccard oracle
  private val shingleSql =
    """list_distinct(list_transform(
         generate_series(1, greatest(len(toks) - 2, 0)),
         i -> array_to_string(toks[i:i+2], ' ')))"""

  // ---------------------------------------------------------------
  // Generated sketch oracles.
  //
  // The sketch kernels ([[graft.functions.SketchOps]]) use MD5 as the
  // base hash and literal affine permutations precisely so that the
  // SAME arithmetic is expressible in DuckDB SQL: the seeded
  // coefficient / hyperplane constants are spliced into the oracle
  // text below as literals, making MinHash/SimHash/LSH/IVF/
  // fingerprint/multimodal oracle-verified end-to-end rather than
  // rows-only.
  // ---------------------------------------------------------------

  /** `CAST('0x'||substring(md5(e),1,8) AS BIGINT)` = first 4 MD5
    * bytes unsigned — SketchOps.md5Base32. */
  private def h32Sql(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 8)) AS BIGINT)"

  /** First 15 MD5 hex chars (60 bits) — SketchOps.md5Base60. */
  private def h60Sql(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  /** Single-space tokenization (SketchOps.spaceTokens semantics). */
  private val tokCte =
    """toks AS (
         SELECT doc_id, text,
           list_filter(string_split(text, ' '), t -> t <> '') AS tk
         FROM documents)"""

  /** MinHash signature CTE chain: 3-gram shingles of docs with >= 3
    * tokens, base-hashed, then 64 affine permutation minima with the
    * exact (a_i, b_i) literals the MinHashText kernel uses. */
  private def minhashSigCtes: String = {
    val (as, bs) = graft.functions.SketchOps.coeffs(64, 42L)
    val p = graft.functions.SketchOps.P
    val mins = (0 until 64).map(i =>
      s"list_min(list_transform(xs, x -> (${as(i)}*x + ${bs(i)}) % $p))")
      .mkString(",\n           ")
    s"""sh AS (
         SELECT doc_id, list_transform(generate_series(1, len(tk) - 2),
           i -> array_to_string(tk[i:i+2], ' ')) AS s
         FROM toks WHERE len(tk) >= 3),
       hx AS (SELECT doc_id, list_transform(s, g -> ${h32Sql("g")}) AS xs
              FROM sh),
       sig AS (SELECT doc_id, [$mins] AS sig FROM hx)"""
  }

  /** MinHash banded candidate pairs + signature-agreement estimate:
    * band b = sig rows [4b+1..4b+4]; pair is a candidate iff some
    * band matches exactly (the XXH64 band-hash join in Dedup is an
    * equality proxy with ~2^-64 collision odds). */
  private def minhashScoredCtes: String =
    s"""$tokCte,
       $minhashSigCtes,
       pp AS (
         SELECT a.doc_id AS id_a, a.sig AS sa, b.doc_id AS id_b, b.sig AS sb
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
       scored AS (
         SELECT id_a, id_b,
           list_sum(list_transform(generate_series(1, 64),
             i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 64.0
             AS est_jaccard,
           len(list_filter(generate_series(0, 15),
             bd -> sa[bd*4+1:bd*4+4] = sb[bd*4+1:bd*4+4])) AS nb
         FROM pp)"""

  private val minhashPairsOracle =
    s"""WITH $minhashScoredCtes
       SELECT id_a, id_b, est_jaccard FROM scored
       WHERE nb > 0 AND est_jaccard >= 0.35
       ORDER BY id_a, id_b"""

  /** Verified-pairs oracle: the minhash candidate CTEs, then exact
    * levenshtein on the candidate pairs' text with the SAME integer
    * bound rule (`lv <= floor(maxlen·(1−tau))` ⟺ thresholded-kernel
    * dist != -1 — integer dist makes the floor exact); the -1
    * sentinel and the null edit_sim replay as CASE arms. */
  private val verifiedPairsOracle =
    s"""WITH $minhashScoredCtes,
       cand AS (SELECT id_a, id_b, est_jaccard FROM scored
                WHERE nb > 0 AND est_jaccard >= 0.35),
       j AS (
         SELECT id_a, id_b, est_jaccard,
           levenshtein(a.text, b.text) AS lv,
           greatest(len(a.text), len(b.text)) AS ml
         FROM cand
         JOIN documents a ON cand.id_a = a.doc_id
         JOIN documents b ON cand.id_b = b.doc_id),
       d AS (
         SELECT id_a, id_b, est_jaccard, lv, ml,
           CAST(floor(ml * (1.0 - 0.8)) AS BIGINT) AS md
         FROM j)
       SELECT id_a, id_b, est_jaccard,
         CAST(CASE WHEN lv <= md THEN lv ELSE -1 END AS INTEGER)
           AS edit_dist,
         CASE WHEN lv <= md
           THEN round(1.0 - CAST(lv AS DOUBLE) / ml, 6) END AS edit_sim,
         (lv <= md) AS verified
       FROM d ORDER BY id_a, id_b"""

  /** Kneser-Ney CTE chain shared by the llm_kn_score and
    * llm_kn_buckets oracles: 90 % train split (doc_id % 10 <> 0),
    * type-level counts, the interpolated-KN per-instance log-prob,
    * and the per-doc decimal average in `agg`. */
  private val knScoreCtes =
    raw"""$docTokCte,
         inst AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i])) AS w1,
             unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> tk[i+1])) AS w2
           FROM tok WHERE len(tk) >= 2),
         cb AS (SELECT w1, w2, count(*) AS cb FROM inst
                WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
         hist AS (SELECT w1, sum(cb) AS c1, count(*) AS n1f
                  FROM cb GROUP BY w1),
         cont AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY w2),
         nbb AS (SELECT count(*) AS nbb FROM cb),
         vn AS (SELECT count(DISTINCT w) + 1 AS v FROM (
             SELECT unnest(tk) AS w FROM tok WHERE doc_id % 10 <> 0)),
         lp AS (
           SELECT doc_id,
             CASE WHEN c1 IS NULL THEN
               ln((CAST(coalesce(n1b, 0) AS DOUBLE) + 1.0) /
                  (CAST(nbb AS DOUBLE) + CAST(v AS DOUBLE)))
             ELSE
               ln(greatest(CAST(coalesce(cb, 0) AS DOUBLE) - 0.75, 0.0)
                    / CAST(c1 AS DOUBLE)
                  + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
                    * ((CAST(coalesce(n1b, 0) AS DOUBLE) + 1.0) /
                       (CAST(nbb AS DOUBLE) + CAST(v AS DOUBLE))))
             END AS lp
           FROM inst LEFT JOIN cb USING (w1, w2)
             LEFT JOIN hist USING (w1) LEFT JOIN cont USING (w2),
             nbb, vn),
         agg AS (
           SELECT doc_id, count(*) AS n_bigrams,
             round(CAST(SUM(CAST(lp AS DECIMAL(38,18))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
           FROM lp GROUP BY doc_id)"""

  /** Incremental dedup oracle: same signature/band CTEs, but pairs
    * join a new-batch side (doc_id % 10 = 0) against the corpus side
    * (rest) instead of the upper triangle. */
  private val incrementalPairsOracle =
    s"""WITH $tokCte,
       $minhashSigCtes,
       pp AS (
         SELECT a.doc_id AS id_new, a.sig AS sa,
                b.doc_id AS id_corpus, b.sig AS sb
         FROM sig a JOIN sig b
           ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
       scored AS (
         SELECT id_new, id_corpus,
           list_sum(list_transform(generate_series(1, 64),
             i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / 64.0
             AS est_jaccard,
           len(list_filter(generate_series(0, 15),
             bd -> sa[bd*4+1:bd*4+4] = sb[bd*4+1:bd*4+4])) AS nb
         FROM pp)
       SELECT id_new, id_corpus, est_jaccard FROM scored
       WHERE nb > 0 AND est_jaccard >= 0.35
       ORDER BY id_new, id_corpus"""

  /** The MinHash pair set at the 0.35 clustering threshold as CTE
    * `name(id_a, id_b)`, over [[minhashScoredCtes]]' `scored`. */
  private def mhPairsCte(name: String): String =
    s"""$name AS (SELECT id_a, id_b FROM scored
                 WHERE nb > 0 AND est_jaccard >= 0.35)"""

  /** Recursive transitive closure of the undirected pair CTE
    * `src(id_a, id_b)`: `edges` both ways, then `reach(a, b)` — every
    * id reachable from `a`. Needs `WITH RECURSIVE`. */
  private def reachCtes(src: String): String =
    s"""edges AS (SELECT id_a AS a, id_b AS b FROM $src
                 UNION ALL SELECT id_b, id_a FROM $src),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""

  /** [[reachCtes]] plus `comp(id, component)`: component = min id
    * reachable, self included. */
  private def closureCtes(src: String): String =
    s"""${reachCtes(src)},
       comp AS (SELECT a AS id, least(a, min(b)) AS component
                FROM reach GROUP BY a)"""

  /** Connected components over the MinHash pair set via recursive
    * transitive closure; component = min id reachable (incl. self). */
  private val dedupClustersOracle =
    s"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("pairs")},
       ${reachCtes("pairs")}
       SELECT a AS id, least(a, min(b)) AS component
       FROM reach GROUP BY a ORDER BY id"""

  /** Cluster winners by token count: the llm_dedup_clusters closure,
    * then one row per component (n_tok DESC, id ASC). */
  private val clusterBestOracle =
    raw"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("pairs")},
       ${closureCtes("pairs")},
       q AS (SELECT doc_id AS id, CAST(len(list_filter(
               regexp_split_to_array(text, '\s+'), t -> t <> ''))
               AS BIGINT) AS n_tok
             FROM documents)
       SELECT component, id AS keep_id, n_tok FROM (
         SELECT c.component, c.id, q.n_tok,
           ROW_NUMBER() OVER (PARTITION BY c.component
             ORDER BY q.n_tok DESC, c.id ASC) AS rk
         FROM comp c JOIN q USING (id))
       WHERE rk = 1 ORDER BY component"""

  /** Leakage-free split replay: the closure's min-id component
    * (self for singletons), then the md5 percent-bucket split on the
    * COMPONENT id — the llm_split rule keyed by cluster instead of
    * content. */
  private val clusterSplitOracle =
    s"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("pairs")},
       ${closureCtes("pairs")},
       allc AS (
         SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       SELECT doc_id, component,
         CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
              ELSE 'test' END AS split
       FROM (SELECT doc_id, component,
               CAST(('0x' || substring(md5(
                 CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                 AS h
             FROM allc)
       ORDER BY doc_id"""

  /** End-to-end near-dup dedup: recursive transitive closure over the
    * MinHash pair set; a doc is dropped iff some smaller id is
    * reachable (component < id), i.e. it is not its cluster's min-id
    * representative. */
  private val nearDupDedupOracle =
    s"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("pairs")},
       ${closureCtes("pairs")}
       SELECT d.doc_id FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM comp c
                         WHERE c.id = d.doc_id AND c.component < c.id)
       ORDER BY doc_id"""

  /** Verified end-to-end dedup oracle: candidates -> levenshtein
    * verify (the llm_verified_pairs rule) -> recursive closure ->
    * survivors (the nearDupDedup device over VERIFIED edges only). */
  private val verifiedDedupOracle =
    s"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("cand")},
       vp AS (
         SELECT id_a, id_b FROM (
           SELECT id_a, id_b, levenshtein(a.text, b.text) AS lv,
             CAST(floor(greatest(len(a.text), len(b.text))
               * (1.0 - 0.8)) AS BIGINT) AS md
           FROM cand
           JOIN documents a ON cand.id_a = a.doc_id
           JOIN documents b ON cand.id_b = b.doc_id)
         WHERE lv <= md),
       ${closureCtes("vp")}
       SELECT d.doc_id FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM comp c
                         WHERE c.id = d.doc_id AND c.component < c.id)
       ORDER BY doc_id"""

  /** Split-leakage oracle: verified pairs + the llm_split
    * content-hash assignment on both sides, cross-split rows only. */
  private val splitLeakageOracle =
    s"""WITH $minhashScoredCtes,
       ${mhPairsCte("cand")},
       vp AS (
         SELECT id_a, id_b,
           round(1.0 - CAST(lv AS DOUBLE) / ml, 6) AS edit_sim
         FROM (
           SELECT id_a, id_b, levenshtein(a.text, b.text) AS lv,
             greatest(len(a.text), len(b.text)) AS ml,
             CAST(floor(greatest(len(a.text), len(b.text))
               * (1.0 - 0.8)) AS BIGINT) AS md
           FROM cand
           JOIN documents a ON cand.id_a = a.doc_id
           JOIN documents b ON cand.id_b = b.doc_id)
         WHERE lv <= md),
       sp AS (
         SELECT doc_id,
           CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
                   % 100 AS h
               FROM documents))
       SELECT v.id_a, v.id_b, sa.split AS split_a, sb.split AS split_b,
         v.edit_sim
       FROM vp v
       JOIN sp sa ON sa.doc_id = v.id_a
       JOIN sp sb ON sb.doc_id = v.id_b
       WHERE sa.split <> sb.split
       ORDER BY v.id_a, v.id_b"""

  /** Near-dup weights oracle: the verified closure (the
    * llm_verified_dedup device), component sizes, left join with the
    * weight-1 fallback for unclustered docs. */
  private val nearDupWeightsOracle =
    s"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("cand")},
       vp AS (
         SELECT id_a, id_b FROM (
           SELECT id_a, id_b, levenshtein(a.text, b.text) AS lv,
             CAST(floor(greatest(len(a.text), len(b.text))
               * (1.0 - 0.8)) AS BIGINT) AS md
           FROM cand
           JOIN documents a ON cand.id_a = a.doc_id
           JOIN documents b ON cand.id_b = b.doc_id)
         WHERE lv <= md),
       ${closureCtes("vp")},
       sz AS (SELECT component, count(*) AS n FROM comp
              GROUP BY component)
       SELECT d.doc_id,
         coalesce(sz.n, 1) AS n_members,
         round(1.0 / CAST(coalesce(sz.n, 1) AS DOUBLE), 6) AS weight
       FROM documents d
       LEFT JOIN comp c ON c.id = d.doc_id
       LEFT JOIN sz ON sz.component = c.component
       ORDER BY d.doc_id"""

  /** SimHash bits: per doc, 64 sign-votes over DISTINCT token hashes;
    * token hash bits j<32 come from MD5 hex chars 9-16, j>=32 from
    * chars 1-8 (big-endian 8-byte value, split to stay in BIGINT). */
  private val simhashPairsOracle =
    s"""WITH dt AS (
         SELECT doc_id,
           list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))
             AS tk
         FROM documents),
       hx AS (
         SELECT doc_id, list_transform(tk, t ->
           [CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT),
            CAST(('0x' || substring(md5(t), 9, 8)) AS BIGINT)]) AS hs
         FROM dt WHERE len(tk) >= 1),
       bits AS (
         SELECT doc_id, list_transform(generate_series(0, 63), j ->
           CASE WHEN list_sum(list_transform(hs, h ->
             CASE WHEN ((CASE WHEN j >= 32 THEN h[1] >> (j - 32)
                              ELSE h[2] >> j END) & 1) = 1
               THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) AS sb
         FROM hx),
       pp AS (
         SELECT a.doc_id AS id_a, a.sb AS ba, b.doc_id AS id_b, b.sb AS bb
         FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
       SELECT id_a, id_b, hamming FROM (
         SELECT id_a, id_b,
           CAST(list_sum(list_transform(generate_series(1, 64),
             i -> CASE WHEN ba[i] = bb[i] THEN 0 ELSE 1 END)) AS BIGINT)
             AS hamming
         FROM pp)
       WHERE hamming <= 3 ORDER BY id_a, id_b"""

  /** Winnowing fingerprint: min 60-bit hash over word 4-grams, whole-
    * text hash for docs with < 4 tokens. */
  private val fingerprintOracle =
    s"""WITH $tokCte,
       sh AS (
         SELECT doc_id, text, tk,
           list_transform(generate_series(1, greatest(len(tk) - 3, 0)),
             i -> array_to_string(tk[i:i+3], ' ')) AS s
         FROM toks)
       SELECT doc_id,
         CASE WHEN len(tk) >= 4
           THEN list_min(list_transform(s, g -> ${h60Sql("g")}))
           ELSE ${h60Sql("text")} END AS fp
       FROM sh ORDER BY doc_id"""

  /** Hyperplane-LSH cosine pairs: all nTables*ppt quantized gaussian
    * planes (Similarity.lshPlanes, seed 42) spliced as n/1000000.0
    * literals — identical doubles to the kernel's. Bucket per table =
    * ppt sign bits; candidates = same bucket in >= 1 table. */
  /** LSH-pair CTE chain ending in `lshp(id_a, id_b, cosine)` — the
    * seeded hyperplanes spliced as literals; shared by the
    * llm_lsh_cosine_pairs oracle and the dedup-agreement oracle
    * (which consumes the same LSH lens its query now feeds). */
  private def lshPairsCtes(nTables: Int, ppt: Int,
                           threshold: Double): String = {
    val planes = graft.llm.Similarity.lshPlanes(
      nTables = nTables, planesPerTable = ppt, dim = 64, seed = 42L)
    val planeLits = planes.map(pl =>
      "[" + pl.map(v => s"${math.rint(v * 1e6).toLong}/1000000.0")
        .mkString(",") + "]").mkString(",\n         ")
    def cosSql(a: String, b: String) =
      s"""(list_sum(list_transform(list_zip($a, $b),
            t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform($a,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform($b,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""
    s"""lsh_pl AS (SELECT [
         $planeLits] AS planes),
       lsh_bk AS (
         SELECT e.vec_id, e.embedding,
           list_transform(generate_series(0, ${nTables - 1}), t ->
             list_sum(list_transform(generate_series(0, ${ppt - 1}), i ->
               CASE WHEN list_sum(list_transform(
                   list_zip(e.embedding, planes[t*$ppt + i + 1]),
                   z -> CAST(z[1] AS DOUBLE) * z[2])) >= 0
                 THEN (1 << i) ELSE 0 END))) AS bks
         FROM embeddings e CROSS JOIN lsh_pl),
       lsh_pp AS (
         SELECT a.vec_id AS id_a, a.embedding AS va, a.bks AS ka,
                b.vec_id AS id_b, b.embedding AS vb, b.bks AS kb
         FROM lsh_bk a JOIN lsh_bk b ON a.vec_id < b.vec_id),
       lsh_cand AS (
         SELECT id_a, id_b, va, vb FROM lsh_pp
         WHERE len(list_filter(generate_series(1, $nTables),
           t -> ka[t] = kb[t])) > 0),
       lshp AS (
         SELECT id_a, id_b, round(${cosSql("va", "vb")}, 6) AS cosine
         FROM lsh_cand
         WHERE round(${cosSql("va", "vb")}, 6) >= $threshold)"""
  }

  private def lshCosineOracle(nTables: Int, ppt: Int): String =
    s"""WITH ${lshPairsCtes(nTables, ppt, 0.4)}
       SELECT id_a, id_b, cosine FROM lshp
       ORDER BY id_a, id_b"""

  /** Nearest-cell ranking of `embeddings e` against the centroid CTE
    * `cents(cell, cvec)`: squared L2 with ties to the lowest cell (the
    * NearestCell / ProbeCells order), keeping ranks <= `n` (1 for the
    * assignment, nProbe for probes) of the rows passing `where`;
    * `cols` projects from the `inner` columns. */
  private def nearestCells(cols: String, cents: String, n: Int = 1,
      where: String = "",
      inner: String = "e.vec_id, e.embedding, c.cell"): String = {
    val filter = if (where.isEmpty) "" else s"\n           WHERE $where"
    val keep = if (n == 1) "= 1" else s"<= $n"
    s"""SELECT $cols FROM (
           SELECT $inner,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${sqdSql("e.embedding", "c.cvec")} ASC, c.cell ASC)
               AS rnk
           FROM embeddings e CROSS JOIN $cents c$filter) WHERE rnk $keep"""
  }

  /** Nearest-cell assignment CTE `name(vec_id, embedding, cell_id)`
    * over `cents`, optionally only for the rows passing `where`. */
  private def assignCte(name: String, cents: String,
                        where: String = ""): String =
    s"""$name AS (
         ${nearestCells("vec_id, embedding, cell AS cell_id", cents,
             where = where)})"""

  /** Probe CTE `prb(query_id, qv, cell)`: the nProbe = 4 nearest
    * `cents` cells of every query vector (vec_id % 100 = 0). */
  private def probeCte(cents: String): String =
    s"""prb AS (
         ${nearestCells("vec_id AS query_id, embedding AS qv, cell", cents,
             n = 4, where = "e.vec_id % 100 = 0")})"""

  /** Seed centroid CTE `name(cell, cvec)`: the 16 lowest-id vectors,
    * cell = rank order. */
  private def seedCentsCte(name: String): String =
    s"""$name AS (
         SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           embedding AS cvec
         FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16))"""

  /** Per-(cell, dim) mean CTE `name(cell_id, d, m)` over the assignment
    * CTE `asg`: DECIMAL(38,12)-exact sums cast through DOUBLE. */
  private def meanCte(name: String, asg: String): String =
    s"""$name AS (
         SELECT cell_id, d,
           CAST(SUM(CAST(CAST(embedding[d] AS DOUBLE)
             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
         FROM $asg, generate_series(1, 64) t(d)
         GROUP BY cell_id, d)"""

  /** Cosine of a corpus vector `a.embedding` and a probe's query
    * vector `p.qv`, unrounded. */
  private val probeCosSql =
    s"""(list_sum(list_transform(list_zip(a.embedding, p.qv),
            t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(p.qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""

  /** IVF: centroids = the 16 lowest-id vectors (cell = rank order);
    * assignment/probes = squared-L2 argmin with (distance, cell)
    * tie-break — the exact NearestCell / ProbeCells semantics. */
  /** IVF CTE chain ending in `scored(query_id, vec_id, cosine)` —
    * shared by the ivf top-k oracle and the recall harness. */
  private def ivfScoredCtes: String = {
    s"""${seedCentsCte("cents")},
       ${assignCte("asg", "cents")},
       ${probeCte("cents")},
       scored AS (
         SELECT p.query_id, a.vec_id, round($probeCosSql, 6) AS cosine
         FROM asg a JOIN prb p ON a.cell_id = p.cell)"""
  }

  private def ivfOracle: String =
    s"""WITH $ivfScoredCtes
       $scoredTop10"""

  /** Recall harness replay: the ivf chain trimmed to k=10 joined
    * against the exact-cosine chain trimmed to k=10, hit counts and
    * recall with the engine's double-division order. */
  private def annRecallOracle: String =
    s"""WITH $ivfScoredCtes,
       iv AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
             AS rank FROM scored)
         WHERE rank <= 10),
       exsc AS (
         SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
           $cosineSql AS cosine
         FROM embeddings a, embeddings b
         WHERE b.vec_id % 100 = 0),
       ex AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
             AS rank FROM exsc)
         WHERE rank <= 10)
       SELECT e.query_id,
         CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_hits,
         round(CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0
           END) AS DOUBLE) / 10.0, 6) AS recall
       FROM ex e LEFT JOIN iv i
         ON i.query_id = e.query_id AND i.vec_id = e.vec_id
       GROUP BY e.query_id ORDER BY e.query_id"""

  private def sqdSql(v: String, c: String) =
    s"""list_sum(list_transform(list_zip($v, $c),
         z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
            * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))))"""

  /** CTE chain replaying `iters` Lloyd refinement rounds (assign to
    * nearest centroid by squared L2 with ties to the lowest cell,
    * per-(cell,dim) mean with DECIMAL(38,12)-exact sums cast through
    * DOUBLE — the exact kmeansCentroids arithmetic), ending in
    * `asgf(vec_id, embedding, cell_id)`, the final assignment.
    * Returns (ctes, finalCentsCteName). */
  private def kmeansAsgCtes(iters: Int): (String, String) = {
    val rounds = (1 to iters).map { i =>
      s"""${assignCte(s"asg${i - 1}", s"cents${i - 1}")},
       ${meanCte(s"mu$i", s"asg${i - 1}")},
       cents$i AS (
         SELECT row_number() OVER (ORDER BY cell_id) - 1 AS cell,
           list(m ORDER BY d) AS cvec
         FROM mu$i GROUP BY cell_id)"""
    }.mkString(",\n       ")
    val cN = s"cents$iters"
    val ctes = s"""${seedCentsCte("cents0")},
       $rounds,
       ${assignCte("asgf", cN)}"""
    (ctes, cN)
  }

  /** One more decimal-exact mean round over the odd-id batch on top of
    * the centroid CTE `cents`: `asgU` assigns the batch, `muU` holds
    * its per-(cell, dim) means. */
  private def batchMeanCtes(cents: String): String =
    s"""${assignCte("asgU", cents, where = "e.vec_id % 2 = 1")},
       ${meanCte("muU", "asgU")}"""

  /** [[batchMeanCtes]] plus the updated centroid set `centsU`, the old
    * centroid kept where the batch contributed no mass. */
  private def updatedCentsCtes(cents: String): String =
    s"""${batchMeanCtes(cents)},
       centsU AS (
         SELECT c.cell,
           list(coalesce(muU.m, CAST(c.cvec[t.d] AS DOUBLE))
             ORDER BY t.d) AS cvec
         FROM $cents c CROSS JOIN generate_series(1, 64) t(d)
         LEFT JOIN muU ON muU.cell_id = c.cell AND muU.d = t.d
         GROUP BY c.cell)"""

  /** The top-10 select over `scored(query_id, vec_id, cosine)`. */
  private val scoredTop10 =
    """SELECT query_id, rank, vec_id, cosine FROM (
         SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id ASC) AS rank
         FROM scored) WHERE rank <= 10
       ORDER BY query_id, rank"""

  /** Incremental-refresh replay: the trained-centroid chain, one
    * more decimal-exact mean round restricted to the odd-id batch,
    * old centroid kept where the batch contributed no mass. */
  private def kmeansUpdateOracle(iters: Int): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       ${batchMeanCtes(cN)}
       SELECT c.cell, CAST(t.d - 1 AS BIGINT) AS d,
         round(coalesce(muU.m, CAST(c.cvec[t.d] AS DOUBLE)), 6) AS m
       FROM $cN c CROSS JOIN generate_series(1, 64) t(d)
       LEFT JOIN muU ON muU.cell_id = c.cell AND muU.d = t.d
       ORDER BY cell, d"""
  }

  /** Migration-matrix replay: both centroid sets (trained + updated,
    * full precision), one ranked assignment per set, grouped
    * transition counts. */
  private def cellMigrationOracle(iters: Int): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       ${updatedCentsCtes(cN)},
       af AS (
         ${nearestCells("vec_id, cell AS cell_from", cN,
             inner = "e.vec_id, c.cell")}),
       at AS (
         ${nearestCells("vec_id, cell AS cell_to", "centsU",
             inner = "e.vec_id, c.cell")})
       SELECT af.cell_from, at.cell_to, count(*) AS n_moved
       FROM af JOIN at USING (vec_id)
       GROUP BY 1, 2 ORDER BY cell_from, cell_to"""
  }

  /** Patched-index replay: the updated centroid set (trained chain +
    * batch round + keep-old coalesce), assignment of the WHOLE corpus
    * over it (== the patched index content), then the standard
    * probe/score — a pure-SQL full rebuild the patched files must
    * match hash-for-hash. */
  private def ivfPatchOracle(iters: Int): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       ${updatedCentsCtes(cN)},
       ${assignCte("asgP", "centsU")},
       ${probeCte("centsU")},
       scored AS (
         SELECT p.query_id, a.vec_id, round($probeCosSql, 6) AS cosine
         FROM asgP a JOIN prb p ON a.cell_id = p.cell)
       $scoredTop10"""
  }

  /** IVF over Lloyd-refined centroids: the [[kmeansAsgCtes]] chain,
    * then the standard assign/probe/score over the final centroids.
    * `corpusWhere` restricts the SCORED side only (llm_takedown_ivf:
    * a takedown removes vectors from the index without retraining —
    * centroids stay, the removed rows must never be returned). */
  private def kmeansIvfOracle(iters: Int,
                              corpusWhere: String = "TRUE"): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       ${probeCte(cN)},
       scored AS (
         SELECT p.query_id, a.vec_id, round($probeCosSql, 6) AS cosine
         FROM asgf a JOIN prb p ON a.cell_id = p.cell
         WHERE $corpusWhere)
       $scoredTop10"""
  }

  /** RRF replay, lexical leg: the llm_bm25 set-query ranker (queries =
    * the first 8 tokens of every 100th doc, corpus = the rest) ranked
    * to 20 as `lex(query_id, doc_id, rank_a)`. */
  private lazy val rrfLexCtes =
    s"""$docTokCte,
       corpus AS (SELECT doc_id, tk FROM tok WHERE doc_id % 100 <> 0),
       q AS (SELECT doc_id AS query_id, tk[1:8] AS tk FROM tok
             WHERE doc_id % 100 = 0),
       ${bm25ScoreCtes(weighted = false)},
       lex AS (
         SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rank_a
         FROM (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
             AS rk
           FROM sc)
         WHERE rk <= 20)"""

  /** RRF replay, dense leg: the cosine ranking `scored(query_id,
    * doc_id, cosine)` ranked to 20 as `den(query_id, doc_id, rank_b)`. */
  private def rrfDenseCte(scored: String): String =
    s"""den AS (
         SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rank_b
         FROM (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC)
             AS rk
           FROM $scored) WHERE rk <= 20)"""

  /** RRF replay, fusion: `lex` full-outer `den`, 1/(60 + rank) terms
    * added lexical-then-dense before the round (the engine's exact
    * double-add order), top 10 per query. */
  private val rrfFusedSelect =
    """fused AS (
         SELECT coalesce(l.query_id, d.query_id) AS query_id,
           coalesce(l.doc_id, d.doc_id) AS doc_id,
           l.rank_a AS rank_a, d.rank_b AS rank_b,
           round(coalesce(1.0 / (60.0 + l.rank_a), 0.0)
               + coalesce(1.0 / (60.0 + d.rank_b), 0.0), 6)
             AS rrf_score
         FROM lex l FULL OUTER JOIN den d
           ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
       SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id,
         rrf_score, rank_a, rank_b
       FROM (SELECT query_id, doc_id, rrf_score, rank_a, rank_b,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_score DESC, doc_id ASC) AS rk
         FROM fused)
       WHERE rk <= 10 ORDER BY query_id, rank"""

  /** Deployed-shape hybrid retrieval replay: the llm_rrf_fusion
    * fusion arithmetic verbatim, but the dense leg is the PROBED IVF
    * ranking (unrolled Lloyd chain, nProbe=4, corpus minus queries)
    * instead of the brute cosine — so the hash proves the standing
    * BM25-postings serve AND the persisted-index serve compose into
    * the exact fusion a one-shot computation yields. */
  private def rrfIndexedOracle: String = {
    val (ctes, cN) = kmeansAsgCtes(2)
    raw"""WITH $ctes,
       ${probeCte(cN)},
       iscored AS (
         SELECT p.query_id, a.vec_id AS doc_id,
           round($probeCosSql, 6) AS cosine
         FROM asgf a JOIN prb p ON a.cell_id = p.cell
         WHERE a.vec_id % 100 <> 0),
       ${rrfDenseCte("iscored")},
       $rrfLexCtes,
       $rrfFusedSelect"""
  }

  /** Classifier-trainer replay: `rounds` unrolled full-batch GD
    * rounds — signed-presence hash features plus the bias bucket
    * (exact integers → {-1,0,1} doubles), DECIMAL(38,18) logit and
    * gradient sums (order-free), the rational sigmoid
    * `0.5 + 0.5·z/(1+|z|)` (every op exactly-rounded IEEE — no
    * libm), and the fixed update chain `w + lrₜ·(g/N)` with the 1/t
    * decay literals spliced from the same doubles the engine
    * computes. Every chained CTE is MATERIALIZED (the k-round
    * trainer discipline — DuckDB inlines per reference otherwise). */
  private def qualityClfOracle(rounds: Int, lr: Double,
                               trainWhere: String = "TRUE",
                               withLabel: Boolean = true): String = {
    val roundCtes = (1 to rounds).map { t =>
      val p = t - 1
      val lrT = (lr / t.toDouble).toString
      s"""z$t AS MATERIALIZED (
           SELECT hv.doc_id,
             CAST(SUM(CAST(w$p.w * hv.x AS DECIMAL(38,18))) AS DOUBLE)
               AS z
           FROM hv JOIN w$p USING (bucket) GROUP BY hv.doc_id),
         s$t AS MATERIALIZED (
           SELECT lab.doc_id,
             lab.label - (0.5 + 0.5 * COALESCE(z$t.z, 0.0)
               / (1.0 + abs(COALESCE(z$t.z, 0.0)))) AS r
           FROM lab LEFT JOIN z$t USING (doc_id)),
         g$t AS (
           SELECT hv.bucket,
             SUM(CAST(s$t.r * hv.x AS DECIMAL(38,18))) AS g
           FROM hv JOIN s$t USING (doc_id) GROUP BY hv.bucket),
         w$t AS MATERIALIZED (
           SELECT w$p.bucket,
             w$p.w + $lrT * (COALESCE(CAST(g$t.g AS DOUBLE), 0.0)
               / nn.n) AS w
           FROM w$p LEFT JOIN g$t USING (bucket), nn)"""
    }.mkString(",\n         ")
    raw"""WITH tf0 AS (
           SELECT doc_id, t AS tok, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
             FROM documents) dt
           GROUP BY doc_id, t),
         hv AS MATERIALIZED (
           SELECT doc_id, bucket,
             CASE WHEN sv > 0 THEN 1.0 WHEN sv < 0 THEN -1.0
               ELSE 0.0 END AS x
           FROM (SELECT doc_id, (h % 64) AS bucket,
               SUM((CASE WHEN ((h >> 16) & 1) = 1
                 THEN 1 ELSE -1 END) * tf) AS sv
             FROM (SELECT doc_id, tf,
                 CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                   AS h
               FROM tf0) hh
             GROUP BY doc_id, (h % 64)) sgn
           UNION ALL
           SELECT doc_id, 64 AS bucket, 1.0 AS x FROM documents),
         lab AS MATERIALIZED (
           SELECT doc_id,
             CASE WHEN list_contains(list_filter(
               regexp_split_to_array(text, '\s+'), x -> x <> ''),
               'spark') THEN 1 ELSE 0 END AS label
           FROM documents WHERE $trainWhere),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
                WHERE $trainWhere),
         w0 AS MATERIALIZED (
           SELECT unnest(range(0, 65)) AS bucket, 0.0 AS w),
         $roundCtes,
         zf AS MATERIALIZED (
           SELECT hv.doc_id,
             CAST(SUM(CAST(w$rounds.w * hv.x AS DECIMAL(38,18)))
               AS DOUBLE) AS z
           FROM hv JOIN w$rounds USING (bucket) GROUP BY hv.doc_id)
         ${if (withLabel)
      raw"""SELECT lab.doc_id, lab.label,
           round(0.5 + 0.5 * COALESCE(zf.z, 0.0)
             / (1.0 + abs(COALESCE(zf.z, 0.0))), 6) AS score,
           CAST(0.5 + 0.5 * COALESCE(zf.z, 0.0)
             / (1.0 + abs(COALESCE(zf.z, 0.0))) > 0.5 AS INTEGER)
             AS pred
         FROM lab LEFT JOIN zf USING (doc_id)
         ORDER BY lab.doc_id"""
    else
      raw"""SELECT d.doc_id,
           round(0.5 + 0.5 * COALESCE(zf.z, 0.0)
             / (1.0 + abs(COALESCE(zf.z, 0.0))), 6) AS score,
           CAST(0.5 + 0.5 * COALESCE(zf.z, 0.0)
             / (1.0 + abs(COALESCE(zf.z, 0.0))) > 0.5 AS INTEGER)
             AS pred
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN zf USING (doc_id)
         ORDER BY d.doc_id"""}"""
  }

  /** Hard-negative replay: the probed-IVF chain with a source join
    * on BOTH sides and the mismatch filter before the rank window. */
  private def hardNegativesOracle: String = {
    val (ctes, cN) = kmeansAsgCtes(2)
    s"""WITH $ctes,
       src AS MATERIALIZED (
         SELECT doc_id AS vec_id, source FROM documents),
       ${probeCte(cN)},
       scored AS (
         SELECT p.query_id, a.vec_id, cs.source,
           round($probeCosSql, 6) AS cosine
         FROM asgf a JOIN prb p ON a.cell_id = p.cell
         JOIN src cs ON cs.vec_id = a.vec_id
         JOIN src qs ON qs.vec_id = p.query_id
         WHERE cs.source <> qs.source)
       SELECT query_id, rank, vec_id, source, cosine FROM (
         SELECT query_id, vec_id, source, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id ASC) AS rank
         FROM scored) WHERE rank <= 5
       ORDER BY query_id, rank"""
  }

  /** SemDeDup: same final Lloyd assignment, then within-cell
    * lower-id dominance at `round(cosine, 6) >= tau` — a vector
    * survives iff no lower-id cell-mate is that close. */
  private def semDedupOracle(iters: Int, tau: Double): String = {
    val (ctes, _) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       dropped AS (
         SELECT DISTINCT a.vec_id
         FROM asgf a JOIN asgf b
           ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
         WHERE $cosineSql >= $tau)
       SELECT k.vec_id, k.cell_id FROM asgf k
       WHERE k.vec_id NOT IN (SELECT vec_id FROM dropped)
       ORDER BY k.vec_id"""
  }

  /** MMR re-rank: top-`n` rounded-cosine candidates per query, then
    * the greedy selection as a recursive CTE — each iteration's
    * working row carries the chosen-id list, the margin is computed
    * against the symmetric candidate-pair cosine table, and the
    * argmax tiebreaks to the lowest id, exactly the engine's loop.
    * The λ complement is written `1.0 - λ` so the IEEE double matches
    * the engine's `1.0 - lambda`. */
  private def mmrOracle(k: Int, n: Int, lambda: Double): String = {
    def cosSql(x: String, y: String) =
      s"""(list_sum(list_transform(list_zip($x, $y),
            t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform($x,
               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
           * sqrt(list_sum(list_transform($y,
               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))))"""
    s"""WITH RECURSIVE
       qs AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id % 100 = 0),
       scored AS (
         SELECT q.query_id, a.vec_id,
           round(${cosSql("a.embedding", "q.qv")}, 6) AS cosq
         FROM embeddings a, qs q),
       cand AS (
         SELECT query_id, vec_id, cosq FROM (
           SELECT query_id, vec_id, cosq, row_number() OVER (
             PARTITION BY query_id ORDER BY cosq DESC, vec_id ASC) AS rn
           FROM scored) WHERE rn <= $n),
       pc AS (
         SELECT ca.query_id, ca.vec_id AS va, cb.vec_id AS vb,
           round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS s
         FROM cand ca
         JOIN cand cb ON ca.query_id = cb.query_id
           AND ca.vec_id < cb.vec_id
         JOIN embeddings ea ON ea.vec_id = ca.vec_id
         JOIN embeddings eb ON eb.vec_id = cb.vec_id),
       pcs AS (SELECT query_id, va, vb, s FROM pc
               UNION ALL SELECT query_id, vb AS va, va AS vb, s FROM pc),
       sel AS (
         SELECT query_id, CAST(1 AS BIGINT) AS rank, vec_id,
           cosq AS score, [vec_id] AS chosen
         FROM (SELECT query_id, vec_id, cosq, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosq DESC, vec_id ASC) AS rn
               FROM cand) WHERE rn = 1
         UNION ALL
         SELECT query_id, rank + 1 AS rank, vec_id, score,
           list_append(chosen, vec_id) AS chosen
         FROM (
           SELECT sb.query_id, sb.rank, sb.vec_id, sb.score, sb.chosen,
             row_number() OVER (PARTITION BY sb.query_id
               ORDER BY sb.score DESC, sb.vec_id ASC) AS rn
           FROM (
             SELECT s.query_id, s.rank, s.chosen, c.vec_id,
               round($lambda * c.cosq
                 - (1.0 - $lambda) * max(p.s), 6) AS score
             FROM sel s
             JOIN cand c ON c.query_id = s.query_id
               AND NOT list_contains(s.chosen, c.vec_id)
             JOIN pcs p ON p.query_id = s.query_id
               AND p.va = c.vec_id AND list_contains(s.chosen, p.vb)
             GROUP BY s.query_id, s.rank, s.chosen, c.vec_id, c.cosq
           ) sb
         ) WHERE rn = 1 AND rank < $k)
       SELECT query_id, rank, vec_id, score FROM sel
       ORDER BY query_id, rank"""
  }

  /** Embedding outliers: the final Lloyd assignment, L2 distance to
    * the own-cell centroid (dimension-ordered sum = the engine's
    * zip_with fold), decimal-exact per-cell moments, z on the rounded
    * scale. */
  private def embedOutliersOracle(iters: Int, z: Double): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       d AS (
         SELECT a.vec_id, a.cell_id,
           sqrt(${sqdSql("a.embedding", "c.cvec")}) AS dist
         FROM asgf a JOIN $cN c ON c.cell = a.cell_id),
       st AS (
         SELECT cell_id,
           CAST(SUM(CAST(dist AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(*) AS mu,
           CAST(SUM(CAST(dist * dist AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(*) AS msq
         FROM d GROUP BY cell_id),
       sg AS (
         SELECT cell_id, mu,
           sqrt(greatest(0.0, msq - mu * mu)) AS sg
         FROM st),
       zt AS (
         SELECT d.vec_id, d.cell_id, round(d.dist, 6) AS dist,
           round(CASE WHEN sg.sg > 0.0 THEN (d.dist - sg.mu) / sg.sg
                      ELSE 0.0 END, 6) AS z
         FROM d JOIN sg USING (cell_id))
       SELECT vec_id, cell_id, dist, z, z >= $z AS is_outlier
       FROM zt ORDER BY vec_id"""
  }

  /** Prototype-pruning replay: the kmeans assignment chain, rounded
    * own-centroid distance (the embedOutliers arithmetic), per-cell
    * hardest-first rank with the lower-id tiebreak, keep rule on
    * `ceil(n_cell * keepFrac)`. */
  private def protoPruneOracle(iters: Int, keepFrac: Double): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       d AS (
         SELECT a.vec_id, a.cell_id,
           round(sqrt(${sqdSql("a.embedding", "c.cvec")}), 6) AS dist
         FROM asgf a JOIN $cN c ON c.cell = a.cell_id),
       r AS (
         SELECT vec_id, cell_id, dist,
           CAST(row_number() OVER (PARTITION BY cell_id
             ORDER BY dist DESC, vec_id ASC) AS BIGINT) AS rank,
           COUNT(*) OVER (PARTITION BY cell_id) AS n_cell
         FROM d)
       SELECT vec_id, cell_id, dist, rank, n_cell,
         rank <= ceil(n_cell * $keepFrac) AS kept
       FROM r ORDER BY vec_id"""
  }

  /** Approx proto-prune replay: same assignment + distance chain,
    * then DuckDB's own approx_quantile cut per cell and the SAME
    * band rule — the sketch count never leaves either engine, only
    * the verdict. */
  private def protoPruneApproxOracle(iters: Int, keepFrac: Double,
                                     tolFrac: Double): String = {
    val (ctes, cN) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       d AS (
         SELECT a.vec_id, a.cell_id,
           round(sqrt(${sqdSql("a.embedding", "c.cvec")}), 6) AS dist
         FROM asgf a JOIN $cN c ON c.cell = a.cell_id),
       cuts AS (
         SELECT cell_id,
           CAST(approx_quantile(dist, ${1.0 - keepFrac})
             AS DOUBLE) AS cut
         FROM d GROUP BY cell_id),
       agg AS (
         SELECT d.cell_id, count(*) AS n_cell,
           SUM(CASE WHEN d.dist >= cuts.cut THEN 1 ELSE 0 END) AS ak
         FROM d JOIN cuts ON cuts.cell_id = d.cell_id
         GROUP BY d.cell_id)
       SELECT cell_id, n_cell,
         CAST(ceil(n_cell * $keepFrac) AS BIGINT) AS kept_target,
         CAST(abs(ak - ceil(n_cell * $keepFrac))
           <= greatest(2.0, n_cell * $tolFrac) AS INTEGER)
           AS within_band
       FROM agg ORDER BY cell_id"""
  }

  /** Label↔topic MI replay: the kmeans assignment chain, the
    * (label, cell) joint counts, margins, and the decimal-summed
    * per-label MI contribution. */
  private def sourceTopicMiOracle(iters: Int): String = {
    val (ctes, _) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       joint AS (
         SELECT e.label, a.cell_id, count(*) AS nlc
         FROM asgf a JOIN embeddings e USING (vec_id)
         GROUP BY e.label, a.cell_id),
       pl AS (SELECT label, sum(nlc) AS nl FROM joint GROUP BY label),
       pc AS (SELECT cell_id, sum(nlc) AS nc FROM joint
              GROUP BY cell_id),
       tt AS (SELECT sum(nlc) AS n FROM joint),
       terms AS (
         SELECT j.label, pl.nl,
           (CAST(j.nlc AS DOUBLE) / CAST(tt.n AS DOUBLE)) *
             ln(CAST(j.nlc AS DOUBLE) * CAST(tt.n AS DOUBLE) /
               (CAST(pl.nl AS DOUBLE) * CAST(pc.nc AS DOUBLE)))
             AS term
         FROM joint j
         JOIN pl USING (label) JOIN pc USING (cell_id), tt)
       SELECT label, CAST(max(nl) AS BIGINT) AS n_vecs,
         round(CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE), 6)
           AS mi_part
       FROM terms GROUP BY label ORDER BY label"""
  }

  /** Topic-mix replay: the kmeans assignment chain, label join,
    * per-label share window over the (label, cell) count table. */
  private def topicMixOracle(iters: Int): String = {
    val (ctes, _) = kmeansAsgCtes(iters)
    s"""WITH $ctes,
       cnt AS (
         SELECT e.label, a.cell_id, count(*) AS n
         FROM asgf a JOIN embeddings e USING (vec_id)
         GROUP BY e.label, a.cell_id)
       SELECT label, cell_id, n,
         round(CAST(n AS DOUBLE) /
           CAST(SUM(n) OVER (PARTITION BY label) AS DOUBLE), 6) AS frac
       FROM cnt ORDER BY label, cell_id"""
  }

  /** Multimodal features: the deterministic stub decoder's arithmetic
    * (h32 = first 4 MD5 bytes of the blob = of the UTF-8 text). */
  private val mmFeaturesOracle =
    s"""WITH f AS (
         SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
           CAST(strlen(text) AS BIGINT) AS byte_len,
           ${h32Sql("text")} AS h32
         FROM documents),
       g AS (
         SELECT media_id, kind, byte_len,
           CAST(64 + h32 % 512 AS INT) AS width,
           CAST(64 + (h32 >> 9) % 512 AS INT) AS height,
           CAST(CASE WHEN kind = 'video' THEN 1 + (h32 >> 18) % 120
                     ELSE 1 END AS INT) AS n_frames
         FROM f)
       SELECT media_id, kind, byte_len, width, height, n_frames,
         CAST(CASE WHEN kind = 'video' THEN (n_frames - 1) // 10 + 1
                   ELSE 0 END AS BIGINT) AS n_sampled
       FROM g ORDER BY media_id"""

  /** Margin table shared by the two bitext-mining oracles: label
    * slices, cosine, decimal-exact k-NN density averages, ratio
    * margin in fixed division order. */
  private lazy val bitextMarginCtes =
    s"""la AS (SELECT vec_id AS id_a, embedding
               FROM embeddings WHERE label = 0),
       lb AS (SELECT vec_id AS id_b, embedding
              FROM embeddings WHERE label = 1),
       scored AS (
         SELECT a.id_a, b.id_b, $cosineSql AS cosine
         FROM la a, lb b),
       ka AS (
         SELECT id_a,
           CAST(SUM(CAST(cosine AS DECIMAL(38,18))) AS DOUBLE) / 4.0
             AS ka
         FROM (SELECT id_a, cosine,
                 ROW_NUMBER() OVER (PARTITION BY id_a
                   ORDER BY cosine DESC, id_b ASC) AS r
               FROM scored)
         WHERE r <= 4 GROUP BY id_a),
       kb AS (
         SELECT id_b,
           CAST(SUM(CAST(cosine AS DECIMAL(38,18))) AS DOUBLE) / 4.0
             AS kb
         FROM (SELECT id_b, cosine,
                 ROW_NUMBER() OVER (PARTITION BY id_b
                   ORDER BY cosine DESC, id_a ASC) AS r
               FROM scored)
         WHERE r <= 4 GROUP BY id_b),
       mg AS (
         SELECT s.id_a, s.id_b, s.cosine,
           round(s.cosine / ((ka.ka + kb.kb) / 2.0), 6) AS margin
         FROM scored s JOIN ka USING (id_a) JOIN kb USING (id_b))"""

  private val cosineSql =
    """round(
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
           t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(b.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""

  /** PQ/ADC replay: the [[kmeansAsgCtes]] Lloyd arithmetic run per
    * subspace (composite (s, cell) key), then encode + asymmetric
    * scoring. Subspace partial dots and reconstruction norms are
    * summed in subspace order (`list(x ORDER BY s)`), matching the
    * engine's s-ordered reduce, so the rounded cosines replay
    * bit-exact. */
  private def pqCtes(m: Int, kk: Int, iters: Int, sub: Int,
                     trainWhere: String = ""): String = {
    val hi = m - 1
    // training reads the (possibly filtered) svt slices; the final
    // encode always covers the FULL sv — the llm_pq_patch device
    // (books retrained on a sub-corpus, whole corpus re-coded)
    def asgCte(name: String, cents: String, src: String = "svt") =
      s"""$name AS (
         SELECT vec_id, s, v, cell AS cell_id FROM (
           SELECT sv.vec_id, sv.s, sv.v, c.cell,
             row_number() OVER (PARTITION BY sv.vec_id, sv.s
               ORDER BY ${sqdSql("sv.v", "c.cvec")} ASC, c.cell ASC)
               AS rnk
           FROM $src sv JOIN $cents c ON c.s = sv.s) WHERE rnk = 1)"""
    val rounds = (1 to iters).map { i =>
      s"""${asgCte(s"asg${i - 1}", s"cents${i - 1}")},
       mu$i AS (
         SELECT s, cell_id, d,
           CAST(SUM(CAST(CAST(v[d] AS DOUBLE)
             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mv
         FROM asg${i - 1}, generate_series(1, $sub) t(d)
         GROUP BY s, cell_id, d),
       cents$i AS (
         SELECT s, row_number() OVER (PARTITION BY s ORDER BY cell_id)
             - 1 AS cell,
           list(mv ORDER BY d) AS cvec
         FROM mu$i GROUP BY s, cell_id)"""
    }.mkString(",\n       ")
    val cN = s"cents$iters"
    s"""sv AS (
         SELECT e.vec_id, ss.s,
           e.embedding[ss.s * $sub + 1 : ss.s * $sub + $sub] AS v
         FROM embeddings e CROSS JOIN generate_series(0, $hi) ss(s)),
       svt AS (SELECT * FROM sv $trainWhere),
       cents0 AS (
         SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id)
             - 1 AS cell, v AS cvec
         FROM svt WHERE vec_id IN (
           SELECT vec_id FROM embeddings $trainWhere
           ORDER BY vec_id LIMIT $kk)),
       $rounds,
       ${asgCte("codesr", cN, "sv")},
       q AS (
         SELECT vec_id AS query_id, embedding AS qv,
           sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
         FROM embeddings WHERE vec_id % 100 = 0),
       parts AS (
         SELECT cd.vec_id, q.query_id, cd.s, q.qn,
           list_sum(list_transform(list_zip(
               q.qv[cd.s * $sub + 1 : cd.s * $sub + $sub], ct.cvec),
             t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) AS pdot,
           list_sum(list_transform(ct.cvec, x -> x * x)) AS pn2
         FROM codesr cd
         JOIN $cN ct ON ct.s = cd.s AND ct.cell = cd.cell_id
         CROSS JOIN q),
       scored AS (
         SELECT query_id, vec_id,
           round(list_sum(list(pdot ORDER BY s)) /
             (qn * sqrt(list_sum(list(pn2 ORDER BY s)))), 6) AS cosine
         FROM parts GROUP BY query_id, vec_id, qn)"""
  }

  private def pqOracle(m: Int, kk: Int, iters: Int, sub: Int,
                       k: Int, trainWhere: String = "",
                       corpusWhere: String = "TRUE"): String =
    s"""WITH ${pqCtes(m, kk, iters, sub, trainWhere)}
       SELECT query_id, rank, vec_id, cosine FROM (
         SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id ASC) AS rank
         FROM scored WHERE $corpusWhere) WHERE rank <= $k
       ORDER BY query_id, rank"""

  /** PQ + exact re-rank replay: ADC nominates `rerank` ids per query
    * (same deterministic (cosine DESC, id ASC) cut as the engine's
    * window), then the candidates re-score with the exact
    * [[cosineSql]] — identical arithmetic to the llm_topk oracle. */
  private def pqRerankOracle(m: Int, kk: Int, iters: Int, sub: Int,
                             k: Int, rerank: Int): String =
    s"""WITH ${pqCtes(m, kk, iters, sub)},
       cand AS (
         SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS rank
           FROM scored) WHERE rank <= $rerank),
       ex AS (
         SELECT c.query_id, c.vec_id, $cosineSql AS cosine
         FROM cand c
         JOIN embeddings a ON a.vec_id = c.vec_id
         JOIN embeddings b ON b.vec_id = c.query_id)
       SELECT query_id, rank, vec_id, cosine FROM (
         SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id ASC) AS rank
         FROM ex) WHERE rank <= $k
       ORDER BY query_id, rank"""

  /** Gopher repetition replay: every fraction is a ratio of exact
    * integers (counts and codepoint lengths), so the doubles match
    * the kernel bit-for-bit; `kept` gates on the ROUNDED fractions in
    * both engines. n-gram coverage (n>=5) is interval-union over
    * token positions — `DISTINCT (doc, n, pos)` — exactly the
    * kernel's boolean-array sweep. */
  /** Gopher-repetition CTE chain ending in `gfr(doc_id, n_lines,
    * <11 round-6 fracs>, kept)` — shared by the llm_gopher replay
    * and the llm_quality_nb weak-label source. */
  private def gopherCtes: String = {
    def covCol(n: Int) =
      s"SUM(CASE WHEN c.n = $n THEN length(t.tk[c.p]) ELSE 0 END)"
    def topCol(n: Int) =
      s"MAX(CASE WHEN n = $n THEN c * glen ELSE 0 END)"
    def fracCol(num: String, alias: String) =
      s"""round(CASE WHEN d.tchars = 0 THEN 0.0
            ELSE CAST(COALESCE($num, 0) AS DOUBLE) / d.tchars END, 6)
          AS $alias"""
    val tops = Seq(2, 3, 4).map(n =>
      fracCol(s"t.t$n", s"top_${n}gram_frac")).mkString(",\n           ")
    val covs = (5 to 10).map(n =>
      fracCol(s"cv.c$n", s"dup_${n}gram_frac")).mkString(",\n           ")
    val gate = graft.llm.TextAnalysis.gopherThresholds
      .map { case (f, th) => s"$f <= $th" }.mkString(" AND ")
    s"""tokc AS (
         SELECT doc_id, tk, len(tk) AS ntok,
           CAST(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)
             AS BIGINT) AS tchars
         FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                   t -> t <> '') AS tk
               FROM documents)),
       lstat AS (
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
           CAST(SUM(c * ll) AS BIGINT) AS line_chars,
           CAST(SUM(c - 1) AS BIGINT) AS dup_lines,
           CAST(SUM((c - 1) * ll) AS BIGINT) AS dup_line_chars
         FROM (SELECT doc_id, l, ll, COUNT(*) AS c
               FROM (SELECT doc_id, l, length(l) AS ll
                     FROM (SELECT doc_id,
                             unnest(string_split(text, chr(10))) AS l
                           FROM documents)
                     WHERE l <> '') GROUP BY doc_id, l, ll)
         GROUP BY doc_id),
       ngv AS (
         SELECT g.doc_id, g.n, g.s,
           array_to_string(t.tk[g.s : g.s + g.n - 1], ' ') AS gm,
           CAST(list_sum(list_transform(t.tk[g.s : g.s + g.n - 1],
             x -> length(x))) AS BIGINT) AS glen
         FROM (SELECT doc_id, n,
                 unnest(generate_series(1, ntok - n + 1)) AS s
               FROM tokc CROSS JOIN generate_series(2, 10) nn(n)
               WHERE ntok - n + 1 >= 1) g
         JOIN tokc t USING (doc_id)),
       ngc AS (
         SELECT doc_id, n, gm, glen, COUNT(*) AS c
         FROM ngv GROUP BY doc_id, n, gm, glen),
       topf AS (
         SELECT doc_id, ${topCol(2)} AS t2, ${topCol(3)} AS t3,
           ${topCol(4)} AS t4
         FROM ngc WHERE n <= 4 GROUP BY doc_id),
       cpos AS (
         SELECT DISTINCT doc_id, n, p FROM (
           SELECT v.doc_id, v.n,
             unnest(generate_series(v.s, v.s + v.n - 1)) AS p
           FROM ngv v JOIN ngc c
             ON v.doc_id = c.doc_id AND v.n = c.n AND v.gm = c.gm
           WHERE c.c > 1 AND v.n >= 5)),
       covf AS (
         SELECT c.doc_id, ${covCol(5)} AS c5, ${covCol(6)} AS c6,
           ${covCol(7)} AS c7, ${covCol(8)} AS c8, ${covCol(9)} AS c9,
           ${covCol(10)} AS c10
         FROM cpos c JOIN tokc t USING (doc_id)
         GROUP BY c.doc_id),
       gfr AS (
         SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
           top_2gram_frac, top_3gram_frac, top_4gram_frac,
           dup_5gram_frac, dup_6gram_frac, dup_7gram_frac,
           dup_8gram_frac, dup_9gram_frac, dup_10gram_frac,
           ($gate) AS kept
         FROM (
           SELECT d.doc_id,
             CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
             round(CASE WHEN COALESCE(l.n_lines, 0) = 0 THEN 0.0
               ELSE CAST(l.dup_lines AS DOUBLE) / l.n_lines END, 6)
               AS dup_line_frac,
             round(CASE WHEN COALESCE(l.line_chars, 0) = 0 THEN 0.0
               ELSE CAST(l.dup_line_chars AS DOUBLE) / l.line_chars END, 6)
               AS dup_line_char_frac,
             $tops,
             $covs
           FROM tokc d
           LEFT JOIN lstat l USING (doc_id)
           LEFT JOIN topf t USING (doc_id)
           LEFT JOIN covf cv USING (doc_id)))"""
  }

  private def gopherOracle: String =
    s"""WITH $gopherCtes
       SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
         top_2gram_frac, top_3gram_frac, top_4gram_frac,
         dup_5gram_frac, dup_6gram_frac, dup_7gram_frac,
         dup_8gram_frac, dup_9gram_frac, dup_10gram_frac, kept
       FROM gfr
       ORDER BY doc_id"""

  /** llm_quality_nb replay: Gopher verdicts label the corpus
    * (pass/fail), then the sparse-NB score replay (the llm_nb_langid
    * device, binary labels) picks each doc's argmax label. */
  private def qualityNbOracle: String =
    raw"""WITH $gopherCtes,
         lb AS (
           SELECT d.doc_id,
             CASE WHEN g.kept THEN 'pass' ELSE 'fail' END AS lab,
             d.text
           FROM documents d JOIN gfr g USING (doc_id)),
         qtok AS (
           SELECT lab, doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
           FROM lb),
         qc AS (SELECT lab, token, count(*) AS c
                FROM qtok GROUP BY 1, 2),
         qvocab AS (
           SELECT token FROM (
             SELECT token, SUM(c) AS tot FROM qc GROUP BY token
             ORDER BY tot DESC, token ASC LIMIT 65536)),
         qcc AS (SELECT qc.* FROM qc JOIN qvocab USING (token)),
         qnl AS (SELECT lab, SUM(c) AS nl FROM qcc GROUP BY lab),
         qv AS (SELECT count(DISTINCT token) AS v FROM qcc),
         qlab AS (
           SELECT d.lab,
             ln(0.5 / (CAST(coalesce(qnl.nl, 0) AS DOUBLE)
               + 0.5 * CAST(qv.v AS DOUBLE))) AS flr
           FROM (SELECT DISTINCT lab FROM lb) d
           LEFT JOIN qnl USING (lab), qv),
         qseen AS (
           SELECT qcc.lab, qcc.token,
             ln((CAST(qcc.c AS DOUBLE) + 0.5) /
                (CAST(qnl.nl AS DOUBLE) + 0.5 * CAST(qv.v AS DOUBLE)))
               - qlab.flr AS dll
           FROM qcc JOIN qnl USING (lab) JOIN qlab USING (lab), qv),
         qpri AS (
           SELECT lab, ln(CAST(count(*) AS DOUBLE) /
             CAST((SELECT count(*) FROM lb) AS DOUBLE)) AS prior
           FROM lb GROUP BY lab),
         qtf AS (SELECT doc_id, token, count(*) AS tf
                 FROM qtok GROUP BY 1, 2),
         qsc AS (
           SELECT qtf.doc_id, qlab.lab AS pred_label,
             round(qpri.prior + CAST(SUM(CAST(
               CAST(qtf.tf AS DOUBLE)
                 * (qlab.flr + coalesce(qseen.dll, 0.0))
             AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
           FROM qtf JOIN qvocab USING (token)
           CROSS JOIN qlab
           JOIN qpri ON qpri.lab = qlab.lab
           LEFT JOIN qseen ON qseen.lab = qlab.lab
             AND qseen.token = qtf.token
           GROUP BY qtf.doc_id, qlab.lab, qpri.prior),
         qbest AS (
           SELECT doc_id, pred_label, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, pred_label) AS rn
           FROM qsc)
         SELECT b.doc_id, l.lab AS gopher_label,
           b.pred_label, b.score
         FROM qbest b JOIN lb l USING (doc_id)
         WHERE b.rn = 1
         ORDER BY b.doc_id"""

  /** llm_bpe_train replay: `k` merge rounds unrolled as CTE chains —
    * round i = pair count over the round i-1 symbol lists (weighted
    * by word count), argmax with lexicographic tie-break, greedy
    * merge via the same doubled-U+0001 `replace` trick the engine
    * uses (left-to-right non-overlapping replacement = leftmost BPE
    * merging). */
  /** Shared CTE chain of the BPE oracles: `tok(doc_id, w)` token
    * instances, the distinct-word table, and `k` unrolled merge
    * rounds ending in per-round argmax tables `t1..tk`. */
  private def bpeCtes(k: Int): String = {
    val d = "chr(1) || chr(1)"
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
           SELECT x, y, CAST(SUM(n) AS BIGINT) AS c FROM (
             SELECT a[i] AS x, a[i + 1] AS y, n FROM (
               SELECT a, n, unnest(generate_series(1, len(a) - 1)) AS i
               FROM a${i - 1} WHERE len(a) >= 2))
           GROUP BY x, y),
         t$i AS (SELECT x, y, c FROM p$i
                 ORDER BY c DESC, x ASC, y ASC LIMIT 1),
         w$i AS (
           SELECT replace(w.s,
               chr(1) || t.x || $d || t.y || chr(1),
               chr(1) || t.x || t.y || chr(1)) AS s, w.n
           FROM w${i - 1} w, t$i t),
         a$i AS (
           SELECT list_filter(string_split(s, $d), z -> z <> '') AS a, n
           FROM w$i)"""
    }.mkString(",\n         ")
    raw"""tok AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')) AS w
           FROM documents),
         wc AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
         a0 AS (
           SELECT list_filter(regexp_split_to_array(w, ''),
             c -> c <> '') AS a, n
           FROM wc),
         w0 AS (
           SELECT $d || array_to_string(a, $d) || $d AS s, n
           FROM a0),
         $rounds"""
  }

  /** llm_wordpiece_train replay: the [[bpeCtes]] unrolling with the
    * WordPiece argmax — each round adds a symbol-count table and
    * picks the pair maximizing the exact integer score
    * `(c · 10^9) // (ca · cb)` (HUGEINT, floor division = the
    * engine's decimal `div`), ties lexicographic. */
  private def wpCtes(k: Int): String = {
    val d = "chr(1) || chr(1)"
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
           SELECT x, y, CAST(SUM(n) AS BIGINT) AS c FROM (
             SELECT a[i] AS x, a[i + 1] AS y, n FROM (
               SELECT a, n, unnest(generate_series(1, len(a) - 1)) AS i
               FROM a${i - 1} WHERE len(a) >= 2))
           GROUP BY x, y),
         s$i AS MATERIALIZED (
           SELECT z, CAST(SUM(n) AS BIGINT) AS cs FROM (
             SELECT unnest(a) AS z, n FROM a${i - 1})
           GROUP BY z),
         t$i AS MATERIALIZED (
           SELECT p.x, p.y, p.c,
             CAST((CAST(p.c AS HUGEINT) * 1000000000) //
               (CAST(sa.cs AS HUGEINT) * sb.cs) AS BIGINT) AS score
           FROM p$i p
           JOIN s$i sa ON sa.z = p.x
           JOIN s$i sb ON sb.z = p.y
           ORDER BY score DESC, p.x ASC, p.y ASC LIMIT 1),
         w$i AS MATERIALIZED (
           SELECT replace(w.s,
               chr(1) || t.x || $d || t.y || chr(1),
               chr(1) || t.x || t.y || chr(1)) AS s, w.n
           FROM w${i - 1} w, t$i t),
         a$i AS MATERIALIZED (
           SELECT list_filter(string_split(s, $d), z -> z <> '') AS a, n
           FROM w$i)"""
    }.mkString(",\n         ")
    raw"""tok AS MATERIALIZED (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), t -> t <> '')) AS w
           FROM documents),
         wc AS MATERIALIZED (SELECT w, count(*) AS n FROM tok GROUP BY w),
         a0 AS MATERIALIZED (
           SELECT list_filter(regexp_split_to_array(w, ''),
             c -> c <> '') AS a, n
           FROM wc),
         w0 AS MATERIALIZED (
           SELECT $d || array_to_string(a, $d) || $d AS s, n
           FROM a0),
         $rounds"""
  }

  private def wpTrainOracle(k: Int): String = {
    val union = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, x AS sym_a, y AS sym_b, " +
        s"c AS n_occ, score AS score_scaled FROM t$i"
    }.mkString("\n           UNION ALL ")
    s"""WITH ${wpCtes(k)}
         SELECT * FROM (
           $union)
         ORDER BY rank"""
  }

  /** llm_wordpiece_encode replay: vocab = a0's alphabet + the k
    * merge outputs; `best` precomputes every (word, position)'s
    * LONGEST vocab match (aggregation can't sit inside the recursive
    * term, so the argmax is hoisted out), and the recursive walk
    * follows the single greedy chain — final position len(w)+1 means
    * fully consumed, anything less is the whole-word [UNK] rule. */
  private def wpEncodeOracle(k: Int): String = {
    val vocabUnion = (1 to k)
      .map(i => s"SELECT x || y AS v FROM t$i")
      .mkString("\n           UNION ")
    s"""WITH RECURSIVE ${wpCtes(k)},
         vocab AS MATERIALIZED (
           SELECT DISTINCT z AS v FROM (SELECT unnest(a) AS z FROM a0)
           UNION
           $vocabUnion),
         dw AS MATERIALIZED (SELECT DISTINCT w FROM tok),
         posn AS MATERIALIZED (
           SELECT w, unnest(generate_series(1, len(w))) AS p FROM dw),
         best AS MATERIALIZED (
           SELECT w, p, MAX(len(v)) AS bl
           FROM posn JOIN vocab ON substr(w, p, len(v)) = v
           GROUP BY w, p),
         walk(w, p, np) AS (
           SELECT w, 1, CAST(0 AS BIGINT) FROM dw
           UNION ALL
           SELECT wk.w, wk.p + b.bl, wk.np + 1
           FROM walk wk JOIN best b ON b.w = wk.w AND b.p = wk.p
           WHERE wk.p <= len(wk.w)),
         fin AS MATERIALIZED (
           SELECT w, MAX(np) AS np, MAX(p) AS fp FROM walk GROUP BY w),
         res AS MATERIALIZED (
           SELECT w,
             CASE WHEN fp = len(w) + 1 THEN np ELSE 1 END AS npieces,
             CASE WHEN fp = len(w) + 1 THEN 0 ELSE 1 END AS unk
           FROM fin),
         tf AS MATERIALIZED (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2)
         SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * npieces) AS BIGINT) AS n_wp_tokens,
           CAST(SUM(tf * unk) AS BIGINT) AS n_unk_words,
           round(CAST(SUM(tf * npieces) AS DOUBLE) / SUM(tf), 6)
             AS fertility
         FROM tf JOIN res USING (w)
         GROUP BY doc_id ORDER BY doc_id"""
  }

  private def bpeTrainOracle(k: Int): String = {
    val union = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, x AS sym_a, y AS sym_b, " +
        s"c AS n_occ FROM t$i"
    }.mkString("\n           UNION ALL ")
    s"""WITH ${bpeCtes(k)}
         SELECT * FROM (
           $union)
         ORDER BY rank"""
  }

  /** llm_bpe_encode replay: re-derive the k merges, apply them in
    * rank order to every distinct word (the same doubled-U+0001
    * replace), then weight symbol counts by per-doc term
    * frequencies. */
  private def bpeEncodeOracle(k: Int): String = {
    val d = "chr(1) || chr(1)"
    val applies = (1 to k).map { i =>
      s"""e$i AS (
           SELECT w, replace(e.s,
               chr(1) || t.x || $d || t.y || chr(1),
               chr(1) || t.x || t.y || chr(1)) AS s
           FROM e${i - 1} e, t$i t)"""
    }.mkString(",\n         ")
    s"""WITH ${bpeCtes(k)},
         e0 AS (
           SELECT w, $d || array_to_string(list_filter(
             regexp_split_to_array(w, ''), c -> c <> ''), $d) || $d
             AS s
           FROM (SELECT DISTINCT w FROM tok)),
         $applies,
         ns AS (
           SELECT w, CAST(len(list_filter(string_split(s, $d),
             z -> z <> '')) AS BIGINT) AS nsym
           FROM e$k),
         tf AS (SELECT doc_id, w, count(*) AS tf
                FROM tok GROUP BY 1, 2)
         SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * nsym) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(tf * nsym) AS DOUBLE) / SUM(tf), 6)
             AS fertility
         FROM tf JOIN ns USING (w)
         GROUP BY doc_id
         ORDER BY doc_id"""
  }


  /** Read-back replay of a [[moduloLayer]] whose batches 0-1 were
    * compacted into the reserved -2 partition: residency per row, only
    * the rows passing `where` left. */
  private def compactedLayerOracle(nBatches: Int, where: String): String =
    s"""SELECT doc_id,
           CAST(CASE WHEN doc_id % $nBatches <= 1 THEN -2 ELSE 2 END
             AS BIGINT) AS ingest_batch,
           length(text) AS n_chars
         FROM documents WHERE $where
         ORDER BY doc_id"""

  /** Count-min replay: md5 base-32 hashes, the seeded affine rows as
    * a literal VALUES relation, bucket/sketch/estimate arithmetic
    * identical to [[graft.llm.HeavyHitters.cmsSketch]]/`cmsLookup`. */
  private lazy val cmsOracle: String = {
    val (as, bs) = graft.functions.SketchOps.coeffs(4, 7L)
    val p = graft.functions.SketchOps.P
    val rows = (0 until 4).map(i => s"($i, ${as(i)}, ${bs(i)})")
      .mkString(", ")
    raw"""WITH inst AS (
         SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
           t -> t <> '')) AS token
         FROM documents),
       prm(rw, a, b) AS (VALUES $rows),
       bkt AS (SELECT token, prm.rw AS rw,
           ((prm.a * CAST(('0x' || substring(md5(token), 1, 8))
             AS BIGINT) + prm.b) % $p) % 16 AS bucket
         FROM inst CROSS JOIN prm),
       sk AS (SELECT rw, bucket, count(*) AS cnt
         FROM bkt GROUP BY rw, bucket),
       ex AS (SELECT token, count(*) AS exact_cnt FROM inst
         GROUP BY token),
       top AS (SELECT token, exact_cnt FROM (
           SELECT token, exact_cnt, row_number() OVER (
             ORDER BY exact_cnt DESC, token ASC) AS rk FROM ex)
         WHERE rk <= 20),
       pb AS (SELECT t.token, prm.rw AS rw,
           ((prm.a * CAST(('0x' || substring(md5(t.token), 1, 8))
             AS BIGINT) + prm.b) % $p) % 16 AS bucket
         FROM top t CROSS JOIN prm),
       est AS (SELECT pb.token,
           min(coalesce(sk.cnt, 0)) AS cms_est
         FROM pb LEFT JOIN sk ON sk.rw = pb.rw AND sk.bucket = pb.bucket
         GROUP BY pb.token)
       SELECT t.token, t.exact_cnt, e.cms_est,
         e.cms_est - t.exact_cnt AS overestimate
       FROM top t JOIN est e USING (token)
       ORDER BY t.token"""
  }

  /** BM25 replay over `corpus(doc_id, tk)` and `q(query_id, tk)` CTEs
    * down to the per-(query, doc) score table `sc`: the engine's formula
    * tree verbatim with a decimal term-sum. A set query counts each
    * distinct term once; a `weighted` (bag) query multiplies each
    * term's score by its query frequency as a DOUBLE before the cast. */
  private def bm25ScoreCtes(weighted: Boolean): String = {
    val qt =
      if (weighted) """qt AS (SELECT query_id, term, count(*) AS qtf FROM (
             SELECT query_id, unnest(tk) AS term FROM q)
           GROUP BY query_id, term),"""
      else "qt AS (SELECT DISTINCT query_id, unnest(tk) AS term FROM q),"
    val qtf = if (weighted) "* CAST(qt.qtf AS DOUBLE)" else ""
    s"""tf AS (SELECT doc_id, term, count(*) AS tf FROM (
             SELECT doc_id, unnest(tk) AS term FROM corpus)
           GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         dl AS (SELECT doc_id, len(tk) AS dl FROM corpus),
         st AS (SELECT count(*) AS n,
                  CAST(SUM(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS avgdl
                FROM corpus),
         $qt
         sc AS (
           SELECT qt.query_id, tf.doc_id,
             round(CAST(SUM(CAST(
               ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(dft.df AS DOUBLE)
                   + 0.5) / (CAST(dft.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
                   + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl)))
               $qtf
             AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
           FROM qt JOIN tf USING (term) JOIN dft USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id, st
           GROUP BY qt.query_id, tf.doc_id)"""
  }

  /** The top-5 rank select over [[bm25ScoreCtes]]' `sc`. */
  private val bm25Top5 =
    """SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score
         FROM (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk
           FROM sc)
         WHERE rk <= 5 ORDER BY query_id, rank"""

  /** Set-query BM25 replay (full formula tree, decimal term-sum) —
    * shared by llm_bm25 and llm_bm25_layered (the layered index is
    * proven bit-identical to the one-shot run). */
  private lazy val bm25SetOracle: String = bm25SetOracleWhere("TRUE")

  /** [[bm25SetOracle]] with an extra corpus predicate — the takedown
    * equivalence contract: serving a patched layer must match a full
    * rebuild over `corpus MINUS ids`, stats and idf recomputed over
    * the survivors. */
  /** Full-scan BM25 replay over the SALTED corpus (`rk<id%499>`
    * appended per doc) with the mixed query set (5 natural saturated
    * + 12 rare-token literal queries) — the [[bm25SetOracleWhere]]
    * formula tree verbatim; hashing llm_bm25_pruned against it
    * proves the prune-or-fallback serve exact on both arms. The
    * rare-query literals are generated by the same arithmetic as the
    * Spark side. */
  private lazy val bm25PrunedOracle: String = {
    val rareVals = (0 until 12).map(q => s"(CAST(${1000 + q} AS " +
      "BIGINT), '" + (0 until 8).map(j => s"rk${(q * 53 + j * 17) % 499}")
        .mkString(" ") + "')").mkString(",\n             ")
    raw"""WITH tok AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(
               text || ' rk' || CAST(doc_id % 499 AS VARCHAR), '\s+'),
             t -> t <> '') AS tk
           FROM documents),
         corpus AS (SELECT doc_id, tk FROM tok WHERE doc_id % 100 <> 0),
         rawq AS (
           SELECT doc_id AS query_id,
             array_to_string(list_filter(
               regexp_split_to_array(text, '\s+'),
               t -> t <> '')[1:8], ' ') AS qtext
           FROM documents WHERE doc_id % 100 = 0 AND doc_id <= 400
           UNION ALL
           SELECT * FROM (VALUES
             $rareVals) v(query_id, qtext)),
         q AS (SELECT query_id, list_filter(
             regexp_split_to_array(qtext, '\s+'), t -> t <> '') AS tk
           FROM rawq),
         ${bm25ScoreCtes(weighted = false)}
         $bm25Top5"""
  }

  /** WEIGHTED (bag-query) full-scan BM25 replay over the SAME salted
    * corpus as [[bm25PrunedOracle]], with the weighted mixed query
    * set (3 natural 12-token prefixes + 12 rare-salt queries of 8
    * distinct tokens x qtf 2) — the llm_bm25_weighted formula tree
    * (qtf product as a DOUBLE, decimal-cast after) verbatim; hashing
    * llm_bm25_pruned_weighted against it proves the weighted
    * prove-or-fall-back serve exact on both arms. */
  private lazy val bm25PrunedWeightedOracle: String = {
    val rareVals = (0 until 12).map(q => s"(CAST(${2000 + q} AS " +
      "BIGINT), '" + (0 until 16)
        .map(j => s"rk${(q * 53 + (j % 8) * 17) % 499}")
        .mkString(" ") + "')").mkString(",\n             ")
    raw"""WITH tok AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(
               text || ' rk' || CAST(doc_id % 499 AS VARCHAR), '\s+'),
             t -> t <> '') AS tk
           FROM documents),
         corpus AS (SELECT doc_id, tk FROM tok WHERE doc_id % 100 <> 0),
         rawq AS (
           SELECT doc_id AS query_id,
             array_to_string(list_filter(
               regexp_split_to_array(text, '\s+'),
               t -> t <> '')[1:12], ' ') AS qtext
           FROM documents WHERE doc_id % 200 = 0 AND doc_id <= 400
           UNION ALL
           SELECT * FROM (VALUES
             $rareVals) v(query_id, qtext)),
         q AS (SELECT query_id, list_filter(
             regexp_split_to_array(qtext, '\s+'), t -> t <> '') AS tk
           FROM rawq),
         ${bm25ScoreCtes(weighted = true)}
         $bm25Top5"""
  }

  private def bm25SetOracleWhere(extra: String): String =
    raw"""WITH $docTokCte,
         corpus AS (SELECT doc_id, tk FROM tok
                    WHERE doc_id % 100 <> 0 AND ($extra)),
         q AS (SELECT doc_id AS query_id, tk[1:8] AS tk FROM tok
               WHERE doc_id % 100 = 0),
         ${bm25ScoreCtes(weighted = false)}
         $bm25Top5"""

  /** Sparse-NB score replay shared by llm_nb_langid and
    * llm_nb_calibration: the self-trained multinomial model (capped
    * vocab, per-label floor + seen-pair deltas, priors) down to the
    * per-(doc, label) ROUNDED score table `sc` — identical to
    * [[graft.llm.TextAnalysis.nbLangId]]'s decomposition. */
  private lazy val nbScoreCtes: String =
    raw"""tok AS (
           SELECT lang, doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS c
               FROM tok GROUP BY 1, 2),
         vocab AS (
           SELECT token FROM (
             SELECT token, SUM(c) AS tot FROM c GROUP BY token
             ORDER BY tot DESC, token ASC LIMIT 65536)),
         cc AS (SELECT c.* FROM c JOIN vocab USING (token)),
         nl AS (SELECT lang, SUM(c) AS nl FROM cc GROUP BY lang),
         v AS (SELECT count(DISTINCT token) AS v FROM cc),
         lab AS (
           SELECT d.lang,
             ln(0.5 / (CAST(coalesce(nl.nl, 0) AS DOUBLE)
               + 0.5 * CAST(v.v AS DOUBLE))) AS flr
           FROM (SELECT DISTINCT lang FROM documents) d
           LEFT JOIN nl USING (lang), v),
         seen AS (
           SELECT cc.lang, cc.token,
             ln((CAST(cc.c AS DOUBLE) + 0.5) /
                (CAST(nl.nl AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE)))
               - lab.flr AS dll
           FROM cc JOIN nl USING (lang) JOIN lab USING (lang), v),
         pri AS (
           SELECT lang, ln(CAST(count(*) AS DOUBLE) /
             CAST((SELECT count(*) FROM documents) AS DOUBLE)) AS prior
           FROM documents GROUP BY lang),
         tf AS (SELECT doc_id, token, count(*) AS tf
                FROM tok GROUP BY 1, 2),
         sc AS (
           SELECT tf.doc_id, lab.lang AS pred_lang,
             round(pri.prior + CAST(SUM(CAST(
               CAST(tf.tf AS DOUBLE)
                 * (lab.flr + coalesce(seen.dll, 0.0))
             AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
           FROM tf JOIN vocab USING (token)
           CROSS JOIN lab
           JOIN pri ON pri.lang = lab.lang
           LEFT JOIN seen ON seen.lang = lab.lang
             AND seen.token = tf.token
           GROUP BY tf.doc_id, lab.lang, pri.prior)"""

  /** rankEval replay: the same harness window (same-source
    * nearest-length top-10, abs-diff + id tie order), same-lang
    * relevance set, decimal dcg sum, and the IDENTICAL idcg prefix
    * constants the engine inlines (Double round-trip repr). */
  private lazy val rankEvalOracle: String = {
    val idcg = (1 to 10).scanLeft(BigDecimal(0)) { (acc, i) =>
      acc + BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
    }.tail
    val arr = idcg.map(_.toDouble.toString).mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, source, lang, n_chars
           FROM documents),
       q AS (SELECT doc_id AS query_id, source AS qs, lang AS ql,
           n_chars AS qn
         FROM d WHERE doc_id % 50 = 0),
       cand AS (SELECT q.query_id, d.doc_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY abs(d.n_chars - q.qn) ASC, d.doc_id ASC) AS rk
         FROM q JOIN d ON d.source = q.qs
           AND d.doc_id <> q.query_id),
       ranked AS (SELECT query_id, doc_id, rk FROM cand
         WHERE rk <= 10),
       rels AS (SELECT q.query_id, d.doc_id
         FROM q JOIN d ON d.source = q.qs AND d.lang = q.ql
           AND d.doc_id <> q.query_id),
       nrel AS (SELECT query_id, count(*) AS n_rel FROM rels
         GROUP BY query_id),
       h AS (SELECT r.query_id,
           SUM(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS n_hits,
           MIN(CASE WHEN rel.doc_id IS NOT NULL THEN r.rk END)
             AS first_rk,
           SUM(CAST(CASE WHEN rel.doc_id IS NOT NULL
               THEN 1.0 / log2(r.rk + 1.0) ELSE 0.0 END
             AS DECIMAL(38,18))) AS dcg
         FROM ranked r LEFT JOIN rels rel
           ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
         GROUP BY r.query_id),
       idcg(v) AS (SELECT $arr)
       SELECT n.query_id, n.n_rel,
         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         round(coalesce(1.0 / first_rk, 0.0), 6) AS mrr,
         round(coalesce(h.n_hits, 0) / 10.0, 6) AS p_at_k,
         round(coalesce(h.n_hits, 0) / CAST(n.n_rel AS DOUBLE), 6)
           AS recall_at_k,
         round(CASE WHEN n.n_rel > 0 THEN
             coalesce(CAST(h.dcg AS DOUBLE), 0.0) /
               idcg.v[CAST(least(n.n_rel, 10) AS INTEGER)]
           ELSE 0.0 END, 6) AS ndcg_at_k
       FROM nrel n LEFT JOIN h USING (query_id) CROSS JOIN idcg
       ORDER BY n.query_id"""
  }

  /** Windowed-trending replay: the cold-start-hour sketch via the
    * same affine VALUES relation as [[cmsOracle]], daily tumbling
    * counts via date_trunc (epoch-aligned like Spark's `window`),
    * per-type min-cell estimate, the rounded ratio and both gate
    * filters. */
  private lazy val windowedTrendingOracle: String = {
    val (as, bs) = graft.functions.SketchOps.coeffs(4, 7L)
    val p = graft.functions.SketchOps.P
    val rows = (0 until 4).map(i => s"($i, ${as(i)}, ${bs(i)})")
      .mkString(", ")
    raw"""WITH inst AS (
         SELECT event_type AS token FROM events
         WHERE ts < TIMESTAMP '2024-01-01 01:00:00'),
       prm(rw, a, b) AS (VALUES $rows),
       sk AS (SELECT rw, bucket, count(*) AS cnt FROM (
           SELECT token, prm.rw AS rw,
             ((prm.a * CAST(('0x' || substring(md5(token), 1, 8))
               AS BIGINT) + prm.b) % $p) % 16 AS bucket
           FROM inst CROSS JOIN prm) b
         GROUP BY rw, bucket),
       wc AS (SELECT date_trunc('day', ts) AS window_start,
           event_type, count(*) AS batch_cnt
         FROM events WHERE ts >= TIMESTAMP '2024-01-02'
         GROUP BY 1, 2),
       pb AS (SELECT t.event_type, prm.rw AS rw,
           ((prm.a * CAST(('0x' || substring(md5(t.event_type), 1, 8))
             AS BIGINT) + prm.b) % $p) % 16 AS bucket
         FROM (SELECT DISTINCT event_type FROM wc) t CROSS JOIN prm),
       est AS (SELECT pb.event_type,
           min(coalesce(sk.cnt, 0)) AS hist_est
         FROM pb LEFT JOIN sk
           ON sk.rw = pb.rw AND sk.bucket = pb.bucket
         GROUP BY pb.event_type)
       SELECT wc.window_start, wc.event_type, wc.batch_cnt,
         e.hist_est,
         round(CAST(wc.batch_cnt AS DOUBLE) /
           greatest(e.hist_est, 1), 6) AS ratio
       FROM wc JOIN est e USING (event_type)
       WHERE wc.batch_cnt >= 2
         AND round(CAST(wc.batch_cnt AS DOUBLE) /
           greatest(e.hist_est, 1), 6) >= 2.0
       ORDER BY wc.window_start, wc.event_type"""
  }

  /** One Viterbi iteration's E-step over the prob table `pin`: all
    * segmentations `segK`, per-word argmax `bestK`, count-weighted
    * piece counts `cK` — see [[unigramIterCtes]]. */
  private def unigramViterbiCtes(k: Int, pin: String): String =
    s"""seg$k(w, pos, lp, np, path) AS (
         SELECT w, 0, CAST(0.0 AS DOUBLE), 0, '' FROM wt
         UNION ALL
         SELECT s.w, s.pos + len(p.piece), s.lp + p.lp, s.np + 1,
           CASE WHEN s.path = '' THEN p.piece
                ELSE s.path || chr(1) || p.piece END
         FROM seg$k s JOIN $pin p
           ON s.pos < len(s.w)
          AND len(p.piece) <= len(s.w) - s.pos
          AND p.piece = substring(s.w, s.pos + 1, len(p.piece))),
       best$k AS (SELECT w, path FROM (
           SELECT w, path, row_number() OVER (PARTITION BY w
             ORDER BY lp DESC, np ASC, path ASC) AS rk
           FROM seg$k WHERE pos = len(w))
         WHERE rk = 1),
       c$k AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS c FROM (
           SELECT b.w, unnest(string_split(b.path, chr(1))) AS piece
           FROM best$k b) bp
         JOIN wt USING (w) GROUP BY piece)"""

  /** Unigram-LM trainer replay. One Viterbi iteration's CTEs: segK =
    * ALL segmentations of every word type under the prob table `pin`
    * (recursive enumeration — branching ≤ maxPieceLen per step, words
    * are short), bestK = per-word argmax under (Σlogp DESC, pieces
    * ASC, U+0001-path ASC) — the engine DP's exact (suffix-monotonic)
    * tie rule, so enumeration and DP select identical paths and the
    * left-to-right double sums compare bit-equal; cK = count-weighted
    * piece counts; pK = the Laplace M-step. */
  private def unigramIterCtes(k: Int, pin: String): String =
    s"""${unigramViterbiCtes(k, pin)},
       p$k AS (SELECT v.piece,
           ln((CAST(coalesce(c.c, 0) AS DOUBLE) + 1.0) /
              ((SELECT CAST(SUM(c) AS DOUBLE) FROM c$k)
               + CAST((SELECT count(*) FROM v0) AS DOUBLE))) AS lp
         FROM v0 v LEFT JOIN c$k c USING (piece))"""

  /** Seed chain: word types -> positional substring seed (two unnest
    * levels, no nested lambdas) -> all-singles + top-multi vocab of
    * 40 -> initial ln(cnt/total) probs. */
  private lazy val unigramSeedCtes: String =
    raw"""wt AS (
         SELECT t AS w, count(*) AS n FROM (
           SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS t
           FROM documents) tt
         GROUP BY t),
       us1 AS (SELECT w, n, unnest(generate_series(1, len(w))) AS i
               FROM wt),
       us2 AS (SELECT w, n, i,
           unnest(generate_series(1, least(4, len(w) - i + 1))) AS l
         FROM us1),
       seed AS (SELECT substring(w, i, l) AS piece,
           CAST(SUM(n) AS BIGINT) AS cnt
         FROM us2 GROUP BY piece),
       singles AS (SELECT piece, cnt FROM seed WHERE len(piece) = 1),
       multi AS (SELECT piece, cnt FROM (
           SELECT piece, cnt, row_number() OVER (
             ORDER BY cnt DESC, piece ASC) AS rk
           FROM seed WHERE len(piece) > 1) rs
         WHERE rk <= 40 - (SELECT count(*) FROM singles)),
       v0 AS (SELECT piece, cnt FROM singles
              UNION ALL SELECT piece, cnt FROM multi),
       p0 AS (SELECT piece,
           ln(CAST(cnt AS DOUBLE) /
              (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v0)) AS lp
         FROM v0)"""

  /** Fixed-vocab trainer chain: seed + EM rounds 1 and 2. */
  private lazy val unigramCtes: String =
    s"""$unigramSeedCtes,
       ${unigramIterCtes(1, "p0")},
       ${unigramIterCtes(2, "p1")}"""

  /** One PRUNED EM round: same seg/best/count CTEs, then the vocab
    * shrinks to singles + pieces with mass (vK) and the Laplace
    * denominator uses |vK| — the engine's prune=true arithmetic. */
  private def unigramPrunedIterCtes(k: Int, pin: String,
                                    vin: String): String =
    s"""${unigramViterbiCtes(k, pin)},
       v$k AS (SELECT v.piece FROM $vin v
         LEFT JOIN c$k c USING (piece)
         WHERE len(v.piece) = 1 OR coalesce(c.c, 0) > 0),
       p$k AS (SELECT v.piece,
           ln((CAST(coalesce(c.c, 0) AS DOUBLE) + 1.0) /
              ((SELECT CAST(SUM(c) AS DOUBLE) FROM c$k)
               + CAST((SELECT count(*) FROM v$k) AS DOUBLE))) AS lp
         FROM v$k v LEFT JOIN c$k c USING (piece))"""

  private lazy val unigramPrunedOracle: String =
    s"""WITH RECURSIVE $unigramSeedCtes,
       ${unigramPrunedIterCtes(1, "p0", "v0")},
       ${unigramPrunedIterCtes(2, "p1", "v1")}
       SELECT p2.piece,
         CAST(coalesce(c2.c, 0) AS BIGINT) AS n_occ,
         round(p2.lp, 6) AS logp
       FROM p2 LEFT JOIN c2 USING (piece)
       ORDER BY piece"""

  private lazy val unigramTrainOracle: String =
    s"""WITH RECURSIVE $unigramCtes
       SELECT p2.piece,
         CAST(coalesce(c2.c, 0) AS BIGINT) AS n_occ,
         round(p2.lp, 6) AS logp
       FROM p2 LEFT JOIN c2 USING (piece)
       ORDER BY piece"""

  private lazy val unigramEncodeOracle: String =
    raw"""WITH RECURSIVE $unigramCtes,
       ${unigramIterCtes(3, "p2")},
       np AS (SELECT w,
           CAST(len(string_split(path, chr(1))) AS BIGINT) AS npiece
         FROM best3),
       utf AS (SELECT doc_id, t AS w, count(*) AS tf FROM (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
           FROM documents) dt
         GROUP BY doc_id, t)
       SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf * npiece) AS BIGINT) AS n_pieces,
         round(CAST(SUM(tf * npiece) AS DOUBLE)
               / CAST(SUM(tf) AS DOUBLE), 6) AS fertility
       FROM utf JOIN np USING (w)
       GROUP BY doc_id ORDER BY doc_id"""

  /** Agreement replay: minhash scored pairs at 0.35 vs the brute
    * cosine pair scan at 0.4, full outer on the upper-triangular
    * key. */
  private lazy val dedupAgreementOracle: String =
    s"""WITH $minhashScoredCtes,
       ${lshPairsCtes(16, 4, 0.4)},
       lx AS (SELECT id_a, id_b, est_jaccard FROM scored
              WHERE nb > 0 AND est_jaccard >= 0.35)
       SELECT coalesce(l.id_a, e.id_a) AS id_a,
         coalesce(l.id_b, e.id_b) AS id_b,
         CASE WHEN l.id_a IS NOT NULL AND e.id_a IS NOT NULL
                THEN 'both'
              WHEN l.id_a IS NOT NULL THEN 'lexical_only'
              ELSE 'embedding_only' END AS category,
         l.est_jaccard AS est_jaccard, e.cosine AS cosine
       FROM lx l FULL OUTER JOIN lshp e
         ON l.id_a = e.id_a AND l.id_b = e.id_b
       ORDER BY id_a, id_b"""

  /** Lineage replay: the nearDupDedup recursive closure + an exact
    * min-per-text window, stage CASE identical to
    * [[graft.llm.Dedup.dedupLineage]]. */
  private lazy val dedupLineageOracle: String =
    s"""WITH RECURSIVE $minhashScoredCtes,
       ${mhPairsCte("pairs")},
       ${closureCtes("pairs")},
       ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text)
                AS exact_keep
              FROM documents)
       SELECT e.doc_id,
         CASE WHEN e.exact_keep < e.doc_id THEN 'exact'
              WHEN c.component IS NOT NULL AND c.component < e.doc_id
                THEN 'near_dup'
              ELSE 'kept' END AS stage,
         CASE WHEN e.exact_keep < e.doc_id THEN e.exact_keep
              WHEN c.component IS NOT NULL AND c.component < e.doc_id
                THEN c.component
              ELSE e.doc_id END AS keep_id
       FROM ex e LEFT JOIN comp c ON c.id = e.doc_id
       ORDER BY e.doc_id"""
}
