package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths with the same output contract (query_id, rank, vec_id,
  * cosine):
  *  - [[bruteTopK]]: exact, one broadcast-join pass — the baseline,
  *    and the right plan whenever |queries| is small (cost =
  *    |corpus| x |queries| fused multiply-adds inside codegen, no
  *    shuffle of the corpus);
  *  - [[ivfTopK]]: IVF-style cell-probed approximate search — the
  *    100 TB path: corpus is bucketed by nearest centroid once
  *    (write-time layout in a real deployment), each query probes
  *    `nProbe` cells, so the scan touches nProbe/C of the data.
  */
object Similarity {

  /** Exact top-k by cosine: broadcast the (small) query set against
    * the corpus, window-rank per query.
    *
    * Scale: queries are broadcast (no corpus shuffle); the only
    * shuffle is the final per-query top-k, which AQE handles with
    * partial TakeOrdered per partition — rows shuffled = k * queries
    * * partitions, independent of corpus size. Norms are hoisted to
    * once per row per side ([[VectorOps.cosineHoisted]] — bit-identical
    * doubles), so the |corpus| x |queries| inner loop is dot-only. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                qIdCol: String = "query_id", qVecCol: String = "query_vec")
      : DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol),
      VectorOps.norm(col(vecCol)).as("_cn"))
    val q = queries.select(col(qIdCol), col(qVecCol),
      VectorOps.norm(col(qVecCol)).as("_qn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col(vecCol), col(qVecCol),
          col("_cn"), col("_qn")), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Eval-set EMBEDDING contamination report — the semantic
    * complement of the n-gram/Bloom decontamination family: for each
    * held-out eval vector, the nearest training-corpus neighbor by
    * cosine and a `contaminated` verdict (`max_cosine >= tau`) —
    * paraphrased or lightly-edited eval leakage that exact n-gram
    * overlap misses (the embedding-dedup argument of SemDeDup applied
    * to train/test hygiene). One row per eval vector: `(eval_id,
    * nearest_id, max_cosine, contaminated)`; ties on the rounded
    * cosine resolve to the smallest corpus id (the [[bruteTopK]]
    * rank rule).
    *
    * Scale shape: the eval set is small and fixed-size by nature, so
    * it broadcasts and the train corpus is scanned ONCE with fused
    * dot products — the per-query cost model of [[bruteTopK]] with
    * k=1; no corpus shuffle beyond the per-eval top-1 TakeOrdered.
    * For repeated audits against a growing corpus, compose with the
    * IVF index ([[ivfTopKIndexedAuto]]) exactly as search does. */
  def embedContamination(corpus: DataFrame, eval: DataFrame,
                         tau: Double = 0.4, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    bruteTopK(corpus,
        eval.select(col(idCol).as("query_id"),
          col(vecCol).as("query_vec")), k = 1, idCol, vecCol)
      .select(col("query_id").as("eval_id"),
        col(idCol).as("nearest_id"), col("cosine").as("max_cosine"),
        (col("cosine") >= tau).as("contaminated"))

  /** [[bruteTopK]] over int8-quantized vectors ([[VectorOps.quantizeInt8]]):
    * same output contract (query_id, rank, vec_id, cosine-of-quantized).
    * In deployment the quantized corpus is persisted ONCE and every
    * query batch scans the 4x-smaller copy; here it is computed inline
    * (still a narrow projection before the scoring join). Recall vs
    * the float path is asserted in LlmSpec.
    *
    * The full 100 TB ANN path composes quantization with cell pruning:
    * quantize corpus + queries (cast to array<double>), then run
    * [[ivfTopKWith]]/[[ivfTopKIndexedAuto]] over the quantized frames — a
    * 4x-smaller index scanning nProbe/nCells of the data. LlmSpec
    * asserts the composed path's recall. */
  def bruteTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         qIdCol: String = "query_id",
                         qVecCol: String = "query_vec"): DataFrame = {
    val dbl = "array<double>"
    val qCorpus = corpus.select(col(idCol),
        VectorOps.quantizeInt8(col(vecCol)).cast(dbl).as("_q"))
      .withColumn("_cn", VectorOps.norm(col("_q")))
    val qQueries = queries.select(col(qIdCol),
        VectorOps.quantizeInt8(col(qVecCol)).cast(dbl).as("_qq"))
      .withColumn("_qn", VectorOps.norm(col("_qq")))
    val scored = qCorpus.crossJoin(broadcast(qQueries))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col("_q"), col("_qq"),
          col("_cn"), col("_qn")), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Contrastive hard-negative mining: per anchor, the top-k most
    * cosine-similar corpus vectors with a DIFFERENT label — the
    * "hardest" negatives for embedding/contrastive training, where
    * random in-batch negatives are too easy. Same output contract and
    * broadcast-anchor plan as [[bruteTopK]], with the label
    * inequality fused into the scoring join (pairs sharing a label
    * never materialize). At 100 TB compose with the IVF/PQ candidate
    * generators exactly like [[pqTopKRerank]]. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label",
                    qIdCol: String = "query_id",
                    qVecCol: String = "query_vec",
                    qLabelCol: String = "query_label"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol), col(labelCol),
      VectorOps.norm(col(vecCol)).as("_cn"))
    val q = anchors.select(col(qIdCol), col(qVecCol), col(qLabelCol),
      VectorOps.norm(col(qVecCol)).as("_qn"))
    val scored = c.join(broadcast(q), col(labelCol) =!= col(qLabelCol))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col(vecCol), col(qVecCol),
          col("_cn"), col("_qn")), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Per-label embedding diversity WITHOUT the O(N²) pair loop: for
    * unit vectors the mean pairwise cosine inside a label is
    * `(‖Σu‖² − Σ‖u‖²) / (n(n−1))` — one narrow normalize pass, one
    * decimal-exact per-(label, dim) sum (the shuffle is bounded by
    * labels × dim rows after map-side combine), one per-label fold.
    * Values near 1 flag a collapsed/redundant label slice; near 0 a
    * spread one — the embedding-space health check of a curation run
    * at any corpus size. Singleton labels yield NULL. */
  def labelDiversity(emb: DataFrame, vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    val u = emb.select(col(labelCol),
      VectorOps.l2Normalize(col(vecCol)).as("_u"))
    val dims = u
      .select(col(labelCol), posexplode(col("_u")).as(Seq("d", "x")))
      .groupBy(col(labelCol), col("d"))
      .agg(sum(col("x").cast("decimal(38,12)")).cast("double").as("s"))
    val perLabel = u.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"),
        sum(VectorOps.normSq(col("_u")).cast("decimal(38,12)"))
          .cast("double").as("sumsq"))
    dims.groupBy(col(labelCol))
      .agg(sum((col("s") * col("s")).cast("decimal(38,12)"))
        .cast("double").as("s2"))
      .join(perLabel, Seq(labelCol))
      .select(col(labelCol), col("n"),
        round(when(col("n") > 1,
          (col("s2") - col("sumsq")) /
            (col("n").cast("double") *
              (col("n").cast("double") - 1.0))), 6)
          .as("mean_pair_cosine"))
  }

  // ------------------------------------------------------------------
  // Train-once registry. Centroids and PQ codebooks are corpus-version
  // artifacts: in deployment you train them once per corpus snapshot
  // and every consumer (IVF probe, SemDeDup, balanced sampling, PQ
  // encode) reads the same frozen model — retraining per query would
  // re-scan the corpus for a value that is bit-identical by
  // construction (decimal-exact Lloyd). The registry keys on the
  // CANONICALIZED logical plan (the same structural equality Spark's
  // own `sameResult`/cache manager uses, so two independent reads of
  // the same parquet path share one entry) plus the training params.
  // ------------------------------------------------------------------
  private val trainedMemo =
    new java.util.concurrent.ConcurrentHashMap[(Any, String), AnyRef]

  private[llm] def memoized[T <: AnyRef](corpus: DataFrame, tag: String)
                                        (train: => T): T =
    trainedMemo.computeIfAbsent(
      (corpus.queryExecution.analyzed.canonicalized, tag),
      _ => train).asInstanceOf[T]

  /** Drop every memoized centroid/codebook artifact — for tests, or
    * after overwriting a corpus path inside one process. */
  def clearTrainedCache(): Unit = trainedMemo.clear()

  /** Deterministic centroid selection: the first `nCells` vectors by
    * id, fetched with sort+limit (Spark plans TakeOrdered — partial
    * per-partition top-N, no global sort). A real deployment would run
    * k-means; the cell-probe plumbing is identical and this keeps the
    * operator reproducible. Returned driver-side: centroid sets are
    * small by definition (C ≪ N) and become a plan literal. */
  private[graft] def collectCentroids(
      corpus: DataFrame, nCells: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Double]] =
    corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol).asc)
      .limit(nCells).collect()
      // element-type-agnostic: float32 embeddings and double frames
      // (e.g. an int8-quantized corpus cast to array<double>) both work
      .map(_.getSeq[Number](1).map(_.doubleValue).toSeq).toSeq

  /** Assign each corpus vector to its nearest centroid — ONE narrow
    * codegen'd projection (native NearestCell expression: no
    * crossJoin, no window, no shuffle; ties break to the lowest cell
    * id). This is the build step — at scale you persist the result
    * partitioned by cell_id so probes prune at the parquet-partition
    * level. */
  def assignCells(corpus: DataFrame, centroids: Seq[Seq[Double]],
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    corpus.select(col(idCol), col(vecCol),
      graft.functions.SketchExprs.nearestCell(col(vecCol), centroids)
        .as("cell_id"))

  /** Margin-based bitext mining (Artetxe & Schwenk 2019's ratio
    * margin, the LASER/CCMatrix parallel-corpus recipe): for every
    * vector of side `a`, the best side-`b` match scored not by raw
    * cosine but by the MARGIN
    * `cos(x,y) / ((avgK(x) + avgK(y)) / 2)` — cosine relative to
    * each side's own k-NN neighborhood density — which suppresses
    * hubs (vectors close to everything) and rescues translation
    * pairs in sparse regions. Emits the forward-mined top-1 per `a`
    * vector with its cosine and margin, `mined = margin >= minMargin`.
    *
    * Determinism: cosines are rounded per pair; the k-NN averages
    * sum through DECIMAL(38,18) so neighborhood density is
    * partition-order-free; the margin divides in fixed textual order
    * and rounds — the whole report replays bit-exact in SQL.
    *
    * Scale shape: this is the per-query-batch corpus-scan cost model
    * of [[bruteTopK]] run both directions (the smaller side
    * broadcasts; only (id, id, cos) rows shuffle into the window
    * cuts). At corpus-x-corpus scale, feed both the pair stream and
    * the k-NN sets from the IVF index ([[ivfTopKIndexedAuto]]) — the
    * margin arithmetic is unchanged, which is why it is factored
    * over a scored pair set rather than fused into the scan. */
  def bitextMine(a: DataFrame, b: DataFrame, k: Int = 4,
                 minMargin: Double = 1.0,
                 idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val margined = bitextMargins(a, b, k, idCol, vecCol)
    val wm = Window.partitionBy(col("id_a"))
      .orderBy(col("margin").desc, col("id_b").asc)
    margined.withColumn("_rn", row_number().over(wm))
      .filter(col("_rn") === 1)
      .select(col("id_a"), col("id_b"), col("cosine"), col("margin"),
        (col("margin") >= minMargin).as("mined"))
  }

  /** [[bitextMine]] with the INTERSECT strategy (the paper's
    * stricter mode): a pair is mined only when it is simultaneously
    * `x`'s forward top-1 AND `y`'s backward top-1 by margin — the
    * mutual-best handshake that trades recall for near-zero false
    * pairs. Emits only the mutual pairs at `margin >= minMargin`. */
  def bitextMineMutual(a: DataFrame, b: DataFrame, k: Int = 4,
                       minMargin: Double = 1.0,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val margined = bitextMargins(a, b, k, idCol, vecCol)
    val fw = Window.partitionBy(col("id_a"))
      .orderBy(col("margin").desc, col("id_b").asc)
    val bw = Window.partitionBy(col("id_b"))
      .orderBy(col("margin").desc, col("id_a").asc)
    margined
      .withColumn("_rf", row_number().over(fw))
      .withColumn("_rb", row_number().over(bw))
      .filter(col("_rf") === 1 && col("_rb") === 1 &&
        col("margin") >= minMargin)
      .select(col("id_a"), col("id_b"), col("cosine"), col("margin"))
  }

  /** Shared margin table of the two mining strategies: all (a, b)
    * pairs with round-6 cosine and the ratio margin (decimal-exact
    * k-NN density averages, fixed division order). */
  private def bitextMargins(a: DataFrame, b: DataFrame, k: Int,
                            idCol: String, vecCol: String): DataFrame = {
    val an = a.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
      VectorOps.norm(col(vecCol)).as("_na"))
    val bn = b.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
      VectorOps.norm(col(vecCol)).as("_nb"))
    val scored = an.crossJoin(broadcast(bn))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.cosineHoisted(col("_va"), col("_vb"),
          col("_na"), col("_nb")), 6).as("cosine"))
    val wa = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    val wb = Window.partitionBy(col("id_b"))
      .orderBy(col("cosine").desc, col("id_a").asc)
    val ka = scored.withColumn("_r", row_number().over(wa))
      .filter(col("_r") <= k).groupBy(col("id_a"))
      .agg((sum(col("cosine").cast("decimal(38,18)")).cast("double") /
        lit(k.toDouble)).as("_ka"))
    val kb = scored.withColumn("_r", row_number().over(wb))
      .filter(col("_r") <= k).groupBy(col("id_b"))
      .agg((sum(col("cosine").cast("decimal(38,18)")).cast("double") /
        lit(k.toDouble)).as("_kb"))
    scored.join(ka, Seq("id_a")).join(kb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cosine"),
        round(col("cosine") / ((col("_ka") + col("_kb")) / lit(2.0)), 6)
          .as("margin"))
  }

  /** Per-label topic-mix report — the corpus-composition diagnostic
    * a mixture-balancing stage reads before setting sampling rates:
    * k-means cells over the embedding space stand in for topics, and
    * every (label, cell) pair reports its count and its share of the
    * label (`frac`). A label concentrated in one cell is
    * single-topic; a flat mix is broad coverage — the same lens
    * SemDeDup/cluster-balance papers use to describe what each slice
    * of a corpus actually contains.
    *
    * Scale: centroids ride the train-once registry
    * ([[kmeansCentroids]]); assignment is one narrow codegen'd pass
    * (vectors never shuffle); the cross-tab aggregate moves
    * (label, cell) keys only, and the label-share window runs over
    * the |labels|·|cells|-sized count table, not the corpus. */
  def topicMix(emb: DataFrame, nCells: Int = 16, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding",
               labelCol: String = "label"): DataFrame = {
    val cents = kmeansCentroids(emb, nCells, iters, idCol, vecCol)
    val asg = assignCells(emb, cents, idCol, vecCol)
      .select(col(idCol), col("cell_id"))
    val counts = emb.select(col(idCol), col(labelCol))
      .join(asg, Seq(idCol))
      .groupBy(col(labelCol), col("cell_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(labelCol))
    counts.select(col(labelCol), col("cell_id"), col("n"),
      round(col("n").cast("double") /
        sum(col("n")).over(w).cast("double"), 6).as("frac"))
  }

  /** Johnson–Lindenstrauss random SIGN projection (Achlioptas 2003's
    * database-friendly ±1 form): project `inDim`-dim embeddings to
    * `outDim` dims with a deterministic ±1 matrix — entry (k, j) is
    * the first hex nibble of `md5("<seed>:k:j")` (< 8 → +1), so the
    * matrix is a pure function of the seed and replays in ANY engine
    * with an md5 — then scale by `1/sqrt(outDim)` so expected
    * pairwise distances are preserved. Output is long-form
    * `(idCol, k, p)` — the shape downstream LSH / brute scans
    * consume. Exact duplicates project identically by construction;
    * distances concentrate per JL as outDim grows.
    *
    * Why it's here: at 100 TB the ANN families' dominant cost is the
    * dot-product volume; an 8x narrower projected corpus cuts every
    * downstream scan and bucket join by the same factor, at a recall
    * cost the caller tunes with outDim (run the candidate stage
    * projected, re-rank survivors on the full vectors — the
    * [[pqTopKRerank]] shape with JL instead of PQ).
    *
    * Scale shape: pure row-local projection — the matrix is a plan
    * literal (outDim·inDim doubles), vectors never shuffle, the fold
    * runs in dimension order so the doubles replay bit-exact. */
  def randProject(emb: DataFrame, outDim: Int = 8, inDim: Int = 64,
                  seed: String = "jl", idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val projs = (0 until outDim).map { k =>
      val signs = (0 until inDim).map { j =>
        if (Character.digit(md5hex(s"$seed:$k:$j").charAt(0), 16) < 8)
          1.0 else -1.0
      }
      val signsLit = array(signs.map(lit(_)): _*)
      round(aggregate(
        zip_with(col(vecCol), signsLit,
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v) * lit(scale), 6)
    }
    emb.select(col(idCol), posexplode(array(projs: _*)).as(Seq("k", "p")))
      .select(col(idCol), col("k").cast("long").as("k"), col("p"))
  }

  /** [[randProject]] in ARRAY form — `(idCol, proj: array<double>)`
    * — the shape the ANN operators consume directly. Same matrix,
    * same arithmetic. */
  private[graft] def randProjectVec(
      emb: DataFrame, outDim: Int = 16, inDim: Int = 64, seed: String = "jl",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val projs = (0 until outDim).map { k =>
      val signs = (0 until inDim).map { j =>
        if (Character.digit(md5hex(s"$seed:$k:$j").charAt(0), 16) < 8)
          1.0 else -1.0
      }
      aggregate(
        zip_with(col(vecCol), array(signs.map(lit(_)): _*),
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v) * lit(scale)
    }
    emb.select(col(idCol), array(projs: _*).as("proj"))
  }

  /** JL-accelerated top-k: candidates from a [[randProjectVec]]
    * space (`outDim` ≪ dim — every candidate dot costs outDim/dim of
    * a full one), exact re-rank of the top-`rerank` survivors on the
    * full vectors — the [[pqTopKRerank]] recall-restoration shape
    * with a projection instead of a code table. The projected
    * candidate scan is where ~all the work is at corpus scale, so
    * the speedup is ~dim/outDim on the dominant term; recall is
    * tuned by `rerank` (see LlmSpec's measured recall on the
    * near-isotropic test embeddings — the hard case for any metric
    * sketch, since true neighbors are near-ties). */
  def jlTopKRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                   outDim: Int = 16, rerank: Int = 50,
                   seed: String = "jl",
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qIdCol: String = "query_id",
                   qVecCol: String = "query_vec"): DataFrame = {
    val pc = randProjectVec(corpus, outDim, seed = seed,
      idCol = idCol, vecCol = vecCol)
    val pq = randProjectVec(queries, outDim, seed = seed,
      idCol = qIdCol, vecCol = qVecCol)
      .withColumnRenamed("proj", "qproj")
    val cand = bruteTopK(pc, pq, rerank, idCol, "proj", qIdCol, "qproj")
      .select(col(qIdCol), col(idCol))
    val rescored = cand
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))),
        Seq(qIdCol))
      .withColumn("cosine",
        round(VectorOps.cosine(col(vecCol), col(qVecCol)), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Label↔topic mutual information — how much a label's identity
    * predicts WHERE its vectors live in embedding space (topics =
    * the same train-once k-means cells as [[topicMix]]). Per label:
    * its vector count and its MI contribution
    * `Σ_c (n_lc/N)·ln(n_lc·N / (n_l·n_c))`, so the corpus MI is the
    * column sum. Near-zero contribution = the label is spread like
    * the corpus (topic-diverse); a large one = the label is its own
    * topic island — the diagnostic read before deciding whether
    * mixture balancing should stratify by that label at all.
    *
    * Determinism: every ratio is a ratio of exact counts; the
    * per-label sum runs through DECIMAL(38,18) and rounds to 6 —
    * bit-replayable in SQL.
    *
    * Scale shape: one narrow assignment pass + one (label, cell)
    * count aggregate (map-side combined); ALL the MI arithmetic runs
    * on the |labels|·|cells|-bounded count table — the corpus never
    * shuffles twice. */
  def sourceTopicMi(emb: DataFrame, nCells: Int = 16, iters: Int = 2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val cents = kmeansCentroids(emb, nCells, iters, idCol, vecCol)
    val joint = emb.select(col(idCol), col(labelCol))
      .join(assignCells(emb, cents, idCol, vecCol)
        .select(col(idCol), col("cell_id")), Seq(idCol))
      .groupBy(col(labelCol), col("cell_id"))
      .agg(count(lit(1)).as("_nlc"))
    val perL = joint.groupBy(col(labelCol))
      .agg(sum(col("_nlc")).as("_nl"))
    val perC = joint.groupBy(col("cell_id"))
      .agg(sum(col("_nlc")).as("_nc"))
    val tot = joint.agg(sum(col("_nlc")).as("_n"))
    joint.join(broadcast(perL), Seq(labelCol))
      .join(broadcast(perC), Seq("cell_id"))
      .crossJoin(broadcast(tot))
      .select(col(labelCol), col("_nl"),
        ((col("_nlc").cast("double") / col("_n").cast("double")) *
          log(col("_nlc").cast("double") * col("_n").cast("double") /
            (col("_nl").cast("double") * col("_nc").cast("double"))))
          .as("_term"))
      .groupBy(col(labelCol))
      .agg(max(col("_nl")).as("n_vecs"),
        round(sum(col("_term").cast("decimal(38,18)")).cast("double"),
          6).as("mi_part"))
  }

  /** Distributed Lloyd refinement of the [[collectCentroids]] seeds:
    * `iters` rounds of assign (native NearestCell — one narrow
    * codegen'd pass over the corpus) then per-cell mean. Means use
    * DECIMAL(38,12)-exact per-dimension sums (float -> double ->
    * decimal), so the centroids are independent of partitioning and
    * aggregation order — bit-reproducible run-to-run and replayable
    * by a SQL oracle, unlike a naive double-sum k-means.
    *
    * Scale: each round is one narrow assignment map plus one shuffle
    * keyed by (cell, dim) whose map-side partial aggregation bounds
    * the shuffle at nCells*dim rows per partition — corpus size never
    * rides the wire. Empty cells drop out; surviving cells are
    * re-indexed in id order (both the kernel and the oracle break
    * distance ties to the lowest cell id). */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, iters: Int = 1,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Double]] =
    memoized(corpus, s"kmeans:$nCells:$iters:$idCol:$vecCol") {
      kmeansCentroidsUncached(corpus, nCells, iters, idCol, vecCol)
    }

  /** IVF deployment geometry (the [[lshAutoConfig]] analog): cell
    * count derived from the corpus size so the EXPECTED CELL
    * POPULATION stays ~`targetCell` however large the corpus grows —
    * probed candidate mass is then bounded by `nProbe * targetCell`
    * per query instead of growing with the corpus (the measured
    * motivation: a FIXED 16-cell index serves 4.6 s at 16x but 11 s
    * at 64x corpus growth because each probed cell holds 64x the
    * vectors; with cells scaled to the corpus the probed mass — and
    * the serve — stays flat, BASELINE.md round-14 scaling table).
    * Clamped to [4, 65536]: at least a few cells to probe-prune at
    * all; the ceiling keeps the centroid set broadcastable (65536 x
    * 64 dims x 8B = 32 MB) and the per-query probe ranking cheap.
    * Training cost scales with nCells; it is the build-time price of
    * bounded serve cost — pay it in the untimed build, the
    * train-once registry amortizes repeats. */
  def ivfAutoCells(n: Long, targetCell: Long = 256L): Int = {
    require(targetCell >= 1L, "targetCell must be >= 1")
    math.max(4, math.min(1 << 16,
      math.ceil(n.toDouble / targetCell.toDouble).toInt))
  }

  /** [[kmeansCentroids]] without the train-once registry (tests that
    * assert recompute determinism). */
  def kmeansCentroidsUncached(corpus: DataFrame, nCells: Int,
                              iters: Int = 1, idCol: String = "vec_id",
                              vecCol: String = "embedding")
      : Seq[Seq[Double]] = {
    var cents = collectCentroids(corpus, nCells, idCol, vecCol)
    var it = 0
    while (it < iters) {
      val mu = assignCells(corpus, cents, idCol, vecCol)
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("d", "x")))
        .groupBy(col("cell_id"), col("d"))
        .agg((sum(col("x").cast("double").cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("m"))
        .collect()
      cents = mu.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
        case (_, rows) =>
          rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      it += 1
    }
    cents
  }

  /** Incremental k-means refresh — ONE Lloyd round from EXISTING
    * centroids over a (new) batch: assign the batch to its nearest
    * given centroid, take the decimal-exact per-(cell, dim) means,
    * and keep the OLD centroid wherever the batch contributed no
    * mass (an index serving traffic must never lose a cell to a
    * quiet batch — the compaction quirk full retraining tolerates
    * is wrong here). The streaming/model-maintenance complement of
    * [[kmeansCentroids]]: refresh drifting centroids from the
    * ingest batch without rescanning the corpus; centroid count and
    * order are stable so downstream cell assignments stay
    * comparable.
    *
    * Scale: the batch scan is the only data pass — one narrow
    * assignment projection, one map-side-combined (cell, dim) mean
    * aggregate (≤ nCells·dim rows to the driver, the same
    * fixed-size state every centroid op holds). */
  def kmeansUpdate(batch: DataFrame, centroids: Seq[Seq[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Seq[Seq[Double]] = {
    require(centroids.nonEmpty, "kmeansUpdate needs centroids")
    val mu = assignCells(batch, centroids, idCol, vecCol)
      .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("cell_id"), col("d"))
      .agg((sum(col("x").cast("double").cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("m"))
      .collect()
    val upd = mu.groupBy(_.getLong(0)).map { case (c, rows) =>
      c.toInt -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
    }
    centroids.indices.map(c => upd.getOrElse(c, centroids(c)))
  }

  /** Cell-migration matrix between two centroid sets — the REINDEX
    * COST estimate after a [[kmeansUpdate]] refresh: one row per
    * `(cell_from, cell_to)` with the count of vectors whose nearest
    * cell changes (the diagonal is the stay-put mass; everything off
    * it is data an IVF index must physically move). Run it BEFORE
    * committing a refresh: a migration matrix that moves 40% of the
    * corpus says re-shard, one that moves 0.1% says patch in place.
    *
    * Scale: ONE narrow scan — both nearest-cell assignments are
    * codegen'd projections over the same row (no self-join, no
    * second pass), collapsed map-side to ≤ nCells² count rows. */
  def cellMigration(emb: DataFrame, oldCents: Seq[Seq[Double]],
                    newCents: Seq[Seq[Double]],
                    vecCol: String = "embedding"): DataFrame =
    emb.select(
        graft.functions.SketchExprs.nearestCell(col(vecCol), oldCents)
          .as("cell_from"),
        graft.functions.SketchExprs.nearestCell(col(vecCol), newCents)
          .as("cell_to"))
      .groupBy(col("cell_from"), col("cell_to"))
      .agg(count(lit(1)).as("n_moved"))

  /** IVF search: each query probes its `nProbe` nearest cells; exact
    * cosine within the probed subset. Recall < 1 by construction;
    * scan cost scales with nProbe/nCells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "query_id", qVecCol: String = "query_vec")
      : DataFrame =
    ivfTopKWith(collectCentroids(corpus, nCells, idCol, vecCol),
      corpus, queries, k, nProbe, idCol, vecCol, qIdCol, qVecCol)

  /** IVF search against a given centroid set (seed-only via
    * [[collectCentroids]] or Lloyd-refined via [[kmeansCentroids]]). */
  def ivfTopKWith(centroids: Seq[Seq[Double]], corpus: DataFrame,
                  queries: DataFrame, k: Int, nProbe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  qIdCol: String = "query_id", qVecCol: String = "query_vec")
      : DataFrame =
    scoreProbedCells(assignCells(corpus, centroids, idCol, vecCol),
      centroids, queries, k, nProbe, idCol, vecCol, qIdCol, qVecCol)

  /** [[hardNegatives]]'s 100 TB composition (the one its scaladoc
    * promises): for each query, the top-k most-similar corpus
    * vectors whose `attrCol` DIFFERS from the query's own — the
    * positive-confusable pairs (high cosine, wrong group)
    * contrastive encoder training wants, mined with the SAME
    * probed-IVF machinery as serving (candidate generation scans
    * ~nProbe/C of the corpus, the mismatch filter runs BEFORE the
    * per-query top-k window so every emitted row is a true
    * cross-group negative at full rank depth). A query's own vector
    * shares its group and is excluded naturally. Emits
    * `(qIdCol, rank, idCol, attrCol, cosine)`.
    *
    * Scale: identical to [[ivfTopKWith]] — queries broadcast with
    * their probe cells, the corpus never reshuffles, the filter is a
    * row-local comparison on the already-joined candidate stream. */
  def hardNegativesIvf(centroids: Seq[Seq[Double]], corpus: DataFrame,
                    queries: DataFrame, k: Int, nProbe: Int = 4,
                    attrCol: String = "source",
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    qIdCol: String = "query_id",
                    qVecCol: String = "query_vec"): DataFrame = {
    val cells = corpus.select(col(idCol), col(vecCol), col(attrCol),
      graft.functions.SketchExprs.nearestCell(col(vecCol), centroids)
        .as("cell_id"))
    val probes = queries
      .withColumn("cell_id", explode(
        graft.functions.SketchExprs.probeCells(col(qVecCol), centroids,
          nProbe)))
      .select(col(qIdCol), col(qVecCol), col(attrCol).as("_qa"),
        col("cell_id"), VectorOps.norm(col(qVecCol)).as("_qn"))
    val scored = cells
      .withColumn("_cn", VectorOps.norm(col(vecCol)))
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col(attrCol) =!= col("_qa"))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col(vecCol), col(qVecCol),
          col("_cn"), col("_qn")), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col(attrCol),
        col("cosine"))
  }

  /** Common IVF scoring over an assigned `(cell_id, id, vec)` frame:
    * probe join (queries broadcast) -> exact cosine -> per-query top-k. */
  private def scoreProbedCells(cells: DataFrame, centroids: Seq[Seq[Double]],
                               queries: DataFrame, k: Int, nProbe: Int,
                               idCol: String, vecCol: String,
                               qIdCol: String, qVecCol: String): DataFrame = {
    // query -> its nProbe nearest cells (native ProbeCells expression:
    // (distance, id)-ordered, matching the assign tie-break)
    val probes = queries
      .withColumn("cell_id", explode(
        graft.functions.SketchExprs.probeCells(col(qVecCol), centroids,
          nProbe)))
      .select(col(qIdCol), col(qVecCol), col("cell_id"),
        VectorOps.norm(col(qVecCol)).as("_qn"))
    // probe join: only vectors in probed cells are scored; norms ride
    // each side once per row so the scoring loop is dot-only
    val scored = cells
      .withColumn("_cn", VectorOps.norm(col(vecCol)))
      .join(broadcast(probes), Seq("cell_id"))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col(vecCol), col(qVecCol),
          col("_cn"), col("_qn")), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Persist the IVF layout: the cell assignment written
    * `partitionBy(cell_id)` — the deployment path the scaladoc of
    * [[assignCells]] describes, as a one-liner. Build once per corpus
    * version; [[ivfTopKIndexedAuto]] then prunes unprobed cells at the
    * parquet-partition level, so each query batch scans ~nProbe/C of
    * the corpus bytes instead of assigning cells over a full scan. */
  def ivfWriteIndex(corpus: DataFrame, centroids: Seq[Seq[Double]],
                    indexDir: String, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    attrCols: Seq[String] = Nil): Unit =
    // attrCols ride INSIDE the index files so filtered search
    // ([[ivfTopKIndexedWhere]]) can push its predicate into the
    // probed-cell parquet scan — row-group min/max + dictionary stats
    // skip non-matching pages without a join back to the corpus
    writeLayout(
      corpus.select((Seq(col(idCol), col(vecCol)) ++ attrCols.map(col))
        :+ graft.functions.SketchExprs.nearestCell(col(vecCol),
          centroids).as("cell_id"): _*),
      IvfLayout, indexDir, Seq(centroids))

  /** The DEPLOYMENT build face: [[ivfWriteIndex]] with the cell count
    * derived from the corpus itself via [[ivfAutoCells]] — the default
    * every build path that doesn't carry an explicit geometry should
    * take (the measured round-14 finding: a FIXED 16-cell index served
    * 4.6 s at 16x corpus growth but 11 s at 64x because each probed
    * cell held 64x the vectors; auto geometry keeps probed candidate
    * mass — and the serve — flat). Trains [[kmeansCentroids]] at the
    * derived count (train-once registry amortizes repeats) and writes
    * the layout + centroid sidecar. Returns the TRAINED cell count —
    * the sidecar's actual centroid count, which can sit below the
    * requested [[ivfAutoCells]] figure when Lloyd rounds drop empty
    * cells — so callers can log/assert the geometry that actually
    * serves. Explicit-cell builds remain first-class for
    * replay-pinned uses (oracle queries splice the trained centroids
    * as literals, so their geometry must not move with the
    * corpus). */
  def ivfBuildIndexAuto(corpus: DataFrame, indexDir: String,
                        targetCell: Long = 256L, iters: Int = 1,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        attrCols: Seq[String] = Nil): Int = {
    val nCells = ivfAutoCells(corpus.count(), targetCell)
    val cents = kmeansCentroids(corpus, nCells, iters, idCol, vecCol)
    ivfWriteIndex(corpus, cents, indexDir, idCol, vecCol, attrCols)
    cents.length
  }

  /** Sidecar names + the flat (group, idx, vector) text codec shared
    * by the IVF centroid set (group always 0) and the PQ codebooks
    * (group = subspace). `Double.toString` round-trips exactly, so the
    * sidecar reproduces the model bit-for-bit. */
  private[llm] val CentroidSidecar = "_centroids.txt"
  private[llm] val BooksSidecar = "_books.txt"

  /** A written dense index layout: the partition column its rows are
    * keyed by, and the sidecar holding the model they were assigned
    * or encoded under. A model is a sequence of groups of vectors: the
    * PQ codebooks (one group per subspace), or the IVF centroid set as
    * the one group 0. */
  private[graft] final case class Layout(partCol: String, sidecar: String)
  private[graft] val IvfLayout = Layout("cell_id", CentroidSidecar)
  private[graft] val PqLayout = Layout("pq_bucket", BooksSidecar)

  /** The one layout write behind [[ivfWriteIndex]] and
    * [[pqWriteIndex]]: `rows` (partition column included) written
    * `partitionBy` the layout's column over `indexDir`, then the model
    * published as its sidecar next to the partitions — serving a
    * layout under the WRONG model probes wrong cells or scores wrong
    * codes silently, so every serve, patch and append reads the
    * layout's own ([[layoutModel]]). */
  private def writeLayout(rows: DataFrame, layout: Layout,
                          indexDir: String,
                          model: Seq[Seq[Seq[Double]]]): Unit = {
    graft.Writes.clusterByPartitions(rows, layout.partCol)
      .write.mode("overwrite").partitionBy(layout.partCol)
      .parquet(indexDir)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    writeModelSidecar(
      root.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(root, layout.sidecar), model)
  }

  private def writeModelSidecar(fs: org.apache.hadoop.fs.FileSystem,
                                path: org.apache.hadoop.fs.Path,
                                model: Seq[Seq[Seq[Double]]]): Unit = {
    val out = fs.create(path, true)
    try out.write((for {
      (group, g) <- model.zipWithIndex
      (v, i) <- group.zipWithIndex
    } yield s"$g $i " + v.map(_.toString).mkString(" "))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The model a written layout was built (or last patched) with,
    * read from its sidecar: the one reader of a model sidecar. Run it
    * only once the entry has landed ([[Swap.completePending]]) or
    * refused ([[servedModel]]) pending swaps: a patch's swap carries
    * the sidecar as its last entry, so before that the file can be
    * stale or missing. Fails naming the dir when it has no sidecar. */
  private def layoutModel(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String, layout: Layout)
      : Seq[Seq[Seq[Double]]] = {
    val path = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(indexDir), layout.sidecar)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      throw new IllegalArgumentException(s"$indexDir has no " +
        s"${layout.sidecar} sidecar — not an ivfWriteIndex or " +
        "pqWriteIndex layout (rebuild it)")
    graft.Writes.readUtf8(fs, path).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val parts = line.split(" ")
        (parts(0).toInt, parts(1).toLong,
          parts.drop(2).map(_.toDouble).toSeq)
      }.toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  /** The model every read of a written layout (serve, fit monitor)
    * runs under: refuses a half-swapped layout first
    * ([[requireSettledIndex]]), then [[layoutModel]]. */
  private[graft] def servedModel(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String, layout: Layout)
      : Seq[Seq[Seq[Double]]] = {
    requireSettledIndex(spark, indexDir)
    layoutModel(spark, indexDir, layout)
  }

  /** IVF search over a persisted [[ivfWriteIndex]] layout, under the
    * centroid set of the layout's own sidecar — serving cannot
    * silently disagree with the set the index was built/patched with.
    * The probed cell set ([[probedCells]], resolved on the driver)
    * becomes a LITERAL `isin` partition filter, so unprobed `cell_id=`
    * directories are pruned from the scan statically — no
    * full-corpus read, no assignment recompute.
    *
    * Batch contract: `queries` is DRIVER-SIZED — its vectors are
    * force-broadcast into the probed-cell scan. */
  def ivfTopKIndexedAuto(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, queries: DataFrame, k: Int,
                         nProbe: Int = 4, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         qIdCol: String = "query_id",
                         qVecCol: String = "query_vec"): DataFrame = {
    val centroids = servedModel(spark, indexDir, IvfLayout).head
    scoreProbedCells(
      indexFrame(spark, indexDir, IvfLayout,
        Some(probedCells(queries, centroids, nProbe, qVecCol))),
      centroids, queries, k, nProbe, idCol, vecCol, qIdCol, qVecCol)
  }

  /** The entry both patches share: land a pending swap on the layout
    * root (a committed takedown must land before a patch reads the
    * index, or the patch would re-assign rows destined for removal)
    * and on its `_delta` segment, then refuse a standing delta — its
    * rows hold assignments or codes under the CURRENT model, which
    * patching around them would leave stale (served through wrong
    * probes or scored as wrong codes); fold it first. A `_delta` a
    * takedown emptied holds no batch and does not block. */
  private def settleForPatch(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String, face: String,
                             fold: String): Unit = {
    Swap.completePending(spark, indexDir)
    Swap.completePending(spark, deltaDir(indexDir).toString)
    require(deltaBatches(spark, indexDir) == 0,
      s"$face: $indexDir has a standing $DeltaDirName segment — run " +
        s"$fold first, then patch")
  }

  /** Patch a persisted [[ivfWriteIndex]] layout IN PLACE after a
    * centroid refresh ([[kmeansUpdate]]) — the apply step of the
    * [[cellMigration]] estimate: re-evaluate assignments from the
    * INDEX itself (one narrow index scan — the raw corpus is never
    * rescanned), and rewrite ONLY the partitions that gained or lost
    * rows. Cells untouched by the migration keep their files
    * byte-for-byte. Returns `(rowsMoved, cellsRewritten)`.
    *
    * Mechanics: the affected cells' new content and the refreshed
    * `_centroids.txt` sidecar are swapped in under one [[Swap.commit]]
    * (the sidecar is the marker's last entry), so past recovery the
    * layout never pairs new cells with the old sidecar or the
    * reverse. A patch that moves nothing swaps in the sidecar alone.
    * IDEMPOTENT-CONVERGENT under crash at ANY point: assignments
    * depend only on (vector, newCents), so recovery + re-patch
    * converges to the same layout.
    *
    * Scale: cost is one index scan plus writes proportional to the
    * AFFECTED cells' row mass — a 0.1%-migration refresh rewrites
    * ~0.1% of the index, which is the whole point of patching over
    * rebuilding. */
  def ivfPatchIndex(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, newCents: Seq[Seq[Double]],
                    vecCol: String = "embedding"): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    settleForPatch(spark, indexDir, "ivfPatchIndex", "ivfCompactDelta")
    val idx = graft.Writes.readParquet(spark, indexDir)
    // every stored column rides the rewrite (attribute-carrying
    // layouts — see ivfWriteIndex's attrCols — must not lose their
    // filter columns in patched partitions)
    val carried = idx.columns.filterNot(_ == "cell_id").toSeq
    // persisted so the expensive nearestCell assignment evaluates
    // ONCE: the stats pass below and the rewrite both read the cache
    // (uncached this plan drove three full index scans — r12's 9.65 s
    // llm_ivf_patch vs its 1.3 s PQ sibling)
    val re = idx.select(carried.map(col) ++ Seq(
      col("cell_id").as("_from"),
      graft.functions.SketchExprs.nearestCell(col(vecCol), newCents)
        .as("_to")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // moved count and affected-cell set in ONE action over the
    // mover rows (collect_set is |cells|-bounded driver state)
    val stats = re.filter(col("_from") =!= col("_to"))
      .agg(count(lit(1)).as("n"),
        // partition-dir discovery types cell_id as INT — cast before
        // the typed getSeq[Long] below
        collect_set(col("_from").cast("long")).as("froms"),
        collect_set(col("_to").cast("long")).as("tos"))
      .collect()(0)
    val moved = stats.getLong(0)
    val affected = (stats.getSeq[Long](1) ++ stats.getSeq[Long](2))
      .distinct.sorted
    // with nothing moved the refreshed set still becomes the layout's
    // model (a rebuild under newCents would produce these exact
    // assignments), so the sidecar entry swaps in either way
    Swap.commit(spark, indexDir,
        affected.map(c => s"cell_id=$c") :+ CentroidSidecar) { tmp =>
      // full new content of every affected partition (movers in,
      // stayers kept, leavers gone; a cell left empty writes no dir
      // and disappears) — written while the index is still readable
      if (affected.nonEmpty)
        graft.Writes.clusterByPartitions(
            re.filter(col("_to").isin(affected: _*))
              .select(carried.map(col) :+ col("_to").as("cell_id"): _*),
            "cell_id")
          .write.partitionBy("cell_id").parquet(tmp.toString)
      writeModelSidecar(fs,
        new org.apache.hadoop.fs.Path(tmp, CentroidSidecar), Seq(newCents))
    }
    (moved, affected.length.toLong)
    } finally re.unpersist(blocking = false)
  }

  /** The distinct cells a query batch probes, sorted: one projection
    * collect of each query's probe list (no Spark job for a local
    * query frame — the projection folds into the local relation),
    * deduplicated on the driver. At most |queries| x nProbe values,
    * driver-sized by the same contract that lets the queries
    * broadcast. */
  private def probedCells(queries: DataFrame, centroids: Seq[Seq[Double]],
                          nProbe: Int, qVecCol: String): Seq[Long] =
    queries.select(graft.functions.SketchExprs.probeCells(
        col(qVecCol), centroids, nProbe))
      .collect().iterator.filterNot(_.isNullAt(0))
      .flatMap(_.getSeq[Long](0)).toSeq.distinct.sorted

  /** An IVF or PQ index's serving frame: the main `partCol=` layout
    * UNIONed with the `_delta` side segment ([[ivfAppendBatch]],
    * [[pqAppendBatch]]) when it holds a batch, `partCol` normalized
    * to long on both sides (partition discovery types small values
    * as int). `probed` restricts both sides to the given partition
    * values: the main layout prunes at the partition level, and delta
    * rows carry their assignment as a stored column, so the same
    * `isin` prunes them at the row level (the delta is small by
    * contract; the compactions fold it into partitions when it stops
    * being small). The PQ serve passes none: ADC scans every
    * bucket. The serve reads its model first ([[servedModel]]), which
    * refuses a half-swapped layout. */
  private def indexFrame(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, layout: Layout,
                         probed: Option[Seq[Long]] = None): DataFrame = {
    val partCol = layout.partCol
    def restrict(df: DataFrame) =
      probed.fold(df)(p => df.filter(col(partCol).isin(p: _*)))
    val main = restrict(graft.Writes.readParquet(spark, indexDir))
    val mainCols = main.columns.toSeq
    def norm(df: DataFrame) = df.select(mainCols.map(c =>
      if (c == partCol) col(c).cast("long").as(c) else col(c)): _*)
    if (deltaBatches(spark, indexDir) == 0) norm(main)
    else norm(main).unionByName(norm(restrict(
      graft.Writes.readParquet(spark, deltaDir(indexDir).toString))
        .drop("ingest_batch")))
  }

  private[llm] val DeltaDirName = "_delta"

  private[llm] def deltaDir(indexDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(indexDir),
      DeltaDirName)

  /** How many `ingest_batch=` batches the index's `_delta` segment
    * holds; 0 when none stands. The one probe behind every serve,
    * fold, patch guard, takedown and [[Takedown.layerDoctor]]: a
    * takedown that removes the last batch leaves an empty `_delta`
    * dir, which holds nothing to serve or fold (parquet cannot even
    * infer its schema) and must not block a patch. */
  private[llm] def deltaBatches(spark: org.apache.spark.sql.SparkSession,
                                indexDir: String): Int = {
    val dir = deltaDir(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir)
      .count(_.getPath.getName.startsWith("ingest_batch="))
  }

  /** A serve's guard on both swap roots of an IVF or PQ index: the
    * layout root and its `_delta` segment ([[Swap.requireSettled]]). */
  private def requireSettledIndex(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String): Unit =
    Swap.requireSettled(spark, indexDir, s"$indexDir/$DeltaDirName")

  /** LSM-style APPEND ingest for a persisted [[ivfWriteIndex]] layout:
    * new vectors are assigned under the layout's own sidecar
    * centroids and published as a batch-keyed `_delta` side segment —
    * the main `cell_id=` partitions are NOT rewritten (an append that
    * rewrote every touched cell would approach rebuild cost whenever
    * a batch spreads across cells, which real batches do). Serving
    * reads main ∪ delta transparently ([[indexFrame]]); the
    * underscore dir keeps the delta invisible to plain parquet reads
    * of the index root. Batch-keyed OVERWRITE makes replay replace,
    * never double-ingest (the [[graft.streaming.IngestStream]] layer
    * discipline). Fold the segment into the partitions with
    * [[ivfCompactDelta]] once it stops being small — and ALWAYS
    * before a centroid patch ([[ivfPatchIndex]] fails fast on a
    * standing delta, whose stored assignments would go stale).
    * Returns the appended row count, counted on the write itself. */
  def ivfAppendBatch(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String, rows: DataFrame, batchId: Long,
                     vecCol: String = "embedding"): Long =
    appendDelta(spark, indexDir, IvfLayout, batchId) { model =>
      // column parity with the main layout: the same carried columns
      // (id, vector, any attributes) must ride every delta row, so a
      // later compaction unions cleanly and filtered search sees its
      // attribute on both sides
      val carried = graft.Writes.readParquet(spark, indexDir).columns
        .filterNot(_ == "cell_id").toSeq
      rows.select(carried.map(col) :+
        graft.functions.SketchExprs.nearestCell(col(vecCol), model.head)
          .as("cell_id"): _*)
    }

  /** The one `_delta` append behind [[ivfAppendBatch]] and
    * [[pqAppendBatch]]: lands a pending swap on the layout root, reads
    * the layout's model and writes `encode(model)` (partition column
    * included) as batch `batchId` of the `_delta` segment — overwrite,
    * so a replayed batch replaces. Returns the appended row count,
    * counted on the write itself. */
  private def appendDelta(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String, layout: Layout,
                          batchId: Long)(
      encode: Seq[Seq[Seq[Double]]] => DataFrame): Long = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    Swap.completePending(spark, indexDir)
    val rows = encode(layoutModel(spark, indexDir, layout))
    val n = graft.Writes.writeCounted(rows)(_.write.mode("overwrite")
      .parquet(s"$indexDir/$DeltaDirName/ingest_batch=$batchId"))
    spark.catalog.refreshByPath(indexDir)
    n
  }

  /** Fold the `_delta` side segment into the main `cell_id=`
    * partitions: only cells that actually received delta rows are
    * rewritten (main rows + delta rows of each affected cell, one
    * partition-keyed write), swapped under the SAME [[Swap]]
    * protocol as takedown — the marker's final entry deletes the
    * delta dir itself, so a crash at any point either leaves the
    * layer fully readable (main ∪ delta) or is completed by the next
    * maintenance entry; rows are never lost and never double-counted.
    * Returns (rowsMerged, cellsRewritten); (0, 0) with no delta. */
  def ivfCompactDelta(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): (Long, Long) =
    compactDeltaInto(spark, indexDir, IvfLayout.partCol)

  /** [[ivfCompactDelta]] / [[pqCompactDelta]] shared machinery: fold
    * the `_delta` segment into the `partCol=` partitions it touches,
    * under the takedown commit-marker swap whose trailing entry
    * deletes the absorbed delta. */
  private def compactDeltaInto(spark: org.apache.spark.sql.SparkSession,
                               indexDir: String, partCol: String)
      : (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.completePending(spark, indexDir)
    val deltaPath = deltaDir(indexDir)
    if (!fs.exists(deltaPath)) return (0L, 0L)
    // a committed-but-unswapped takedown INSIDE the delta (its scrub
    // runs under the delta root) must land before the fold reads it,
    // or removed rows would be absorbed into main
    Swap.completePending(spark, deltaPath.toString)
    // a takedown may have emptied every batch — an empty delta is
    // garbage, not a fold input
    if (deltaBatches(spark, indexDir) == 0) {
      fs.delete(deltaPath, true)
      return (0L, 0L)
    }
    val delta = graft.Writes.readParquet(spark, deltaPath.toString)
      .drop("ingest_batch")
    // row count and affected-partition set in ONE action (the
    // collect_set is |partitions|-bounded driver state)
    val probe = delta.agg(count(lit(1)),
        collect_set(col(partCol).cast("long")))
      .collect()(0)
    val merged = probe.getLong(0)
    if (merged == 0L) { fs.delete(deltaPath, true); return (0L, 0L) }
    val affected = probe.getSeq[Long](1).sorted
    val main = graft.Writes.readParquet(spark, indexDir)
    val mainCols = main.columns.toSeq
    def norm(df: DataFrame) = df.select(mainCols.map(c =>
      if (c == partCol) col(c).cast("long").as(c) else col(c)): _*)
    // partitions only GAIN rows here, so fresh content exists for
    // every affected one; the trailing entry has none under tmp, so
    // the swap's last step deletes the absorbed delta (replayed on
    // recovery)
    Swap.commit(spark, indexDir,
        affected.map(c => s"$partCol=$c") :+ DeltaDirName) { tmp =>
      graft.Writes.clusterByPartitions(
          norm(main.filter(col(partCol).isin(affected: _*)))
            .unionByName(norm(delta)), partCol)
        .write.partitionBy(partCol).parquet(tmp.toString)
    }
    (merged, affected.length.toLong)
  }

  /** Index-fit report — the RETRAIN TRIGGER that completes the
    * refresh trilogy (update → migration estimate → patch): how well
    * does a batch of vectors fit the trained cells? One narrow pass
    * computes each vector's squared L2 to its NEAREST centroid (the
    * codegen'd [[graft.functions.SketchExprs.nearestCellDist]] —
    * the same cellDists arithmetic the assignment uses, so the
    * gauge replays with the assignment oracles' formula) and folds
    * to ONE row: (n_vectors, mean_sqdist, n_beyond, frac_beyond).
    * Rising mean or beyond-τ mass = the stream drifting off the
    * trained cells — refresh BEFORE recall degrades, measured
    * instead of guessed. Map-side combined, state = one row; the
    * decimal-summed mean is partition-order-free. */
  def indexFitReport(batch: DataFrame, cents: Seq[Seq[Double]],
                     tau: Double,
                     vecCol: String = "embedding"): DataFrame = {
    val msd = round(graft.functions.SketchExprs.nearestCellDist(
      col(vecCol), cents), 6)
    batch.select(msd.as("_msd"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("_msd").cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6).as("mean_sqdist"),
        sum(when(col("_msd") > tau, 1L).otherwise(0L)).as("n_beyond"))
      .withColumn("frac_beyond",
        round(col("n_beyond").cast("double") /
          col("n_vectors").cast("double"), 6))
  }

  /** PQ distortion gauge — [[indexFitReport]]'s codebook sibling,
    * the RETRAIN TRIGGER for [[pqPatchIndexAuto]]: per batch, the
    * quantization error a vector would suffer under the standing
    * books (Σ over subspaces of squared L2 to the nearest codeword —
    * exactly the ADC approximation loss), folded to one row
    * (n_vectors, mean_qerr, n_beyond, frac_beyond). Rising
    * distortion = the stream has drifted off the codebooks' training
    * distribution — retrain and patch BEFORE ranking quality
    * degrades. Same narrow one-pass shape as the IVF gauge; the
    * per-subspace kernel is the assignment's own cellDists
    * arithmetic, summed left-to-right in subspace order, so the
    * gauge replays in the PQ oracle chain. */
  def pqFitReport(batch: DataFrame, books: Seq[Seq[Seq[Double]]],
                  tau: Double,
                  vecCol: String = "embedding"): DataFrame = {
    val sub = books.head.head.length
    val qe = round(books.indices.map(s =>
      graft.functions.SketchExprs.nearestCellDist(
        slice(col(vecCol), s * sub + 1, sub), books(s)))
      .reduce(_ + _), 6)
    batch.select(qe.as("_qe"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("_qe").cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6).as("mean_qerr"),
        sum(when(col("_qe") > tau, 1L).otherwise(0L)).as("n_beyond"))
      .withColumn("frac_beyond",
        round(col("n_beyond").cast("double") /
          col("n_vectors").cast("double"), 6))
  }

  /** FILTERED vector search over an attribute-carrying
    * [[ivfWriteIndex]] layout: [[ivfTopKIndexedAuto]] with a metadata
    * `predicate` over the index's stored attribute columns ("top-k
    * neighbors among docs WHERE lang = 'en'", the
    * retrieval-with-access-control / faceted-RAG shape). The
    * predicate applies BEFORE scoring, in the same scan the probed
    * `cell_id` partition filter prunes: attributes live inside the
    * index files, so Catalyst pushes it to the parquet reader
    * (PushedFilters — plan-gated) and non-matching row groups are
    * skipped on stats without ever joining back to the corpus.
    *
    * Semantics (the honestly-bounded contract every filtered-ANN
    * system has): candidates come from the probed cells ONLY, so a
    * highly selective predicate shrinks the per-query candidate pool
    * and can return fewer than k rows; raise `nProbe` (or partition
    * the index by the filter attribute when one attribute dominates
    * every query) rather than expecting post-hoc refill. Exactness
    * within the probed cells is unchanged — scores are exact cosines
    * over the filtered candidates. */
  def ivfTopKIndexedWhere(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String, queries: DataFrame, k: Int,
                          predicate: org.apache.spark.sql.Column,
                          nProbe: Int = 4,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          qIdCol: String = "query_id",
                          qVecCol: String = "query_vec"): DataFrame = {
    val centroids = servedModel(spark, indexDir, IvfLayout).head
    // the predicate rides BELOW the main∪delta union — Catalyst
    // pushes it through Union into each branch's parquet reader
    scoreProbedCells(
      indexFrame(spark, indexDir, IvfLayout,
          Some(probedCells(queries, centroids, nProbe, qVecCol)))
        .filter(predicate),
      centroids, queries, k, nProbe, idCol, vecCol, qIdCol, qVecCol)
  }

  /** Seeded gaussian hyperplanes, quantized to 6 decimals. Each
    * component is exactly n/1e6 for an integer n, so a SQL oracle can
    * reproduce the planes bit-for-bit from integer literals
    * (`n/1000000.0` — same IEEE division, same double). Quantization
    * does not change the geometry meaningfully (components are ~N(0,1);
    * the 5e-7 perturbation only matters for dots within 1e-4 of zero). */
  def lshPlanes(nTables: Int, planesPerTable: Int, dim: Int,
                seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    (0 until nTables * planesPerTable).map(_ =>
      Seq.fill(dim)(math.rint(rnd.nextGaussian() * 1e6) / 1.0e6))
  }

  /** Corpus-size-aware LSH configuration: pick (nTables,
    * planesPerTable) so per-table bucket occupancy stays bounded and
    * recall holds at the given cosine threshold.
    *
    * Derivation (validated against the measured points in BASELINE.md's
    * scaling table): candidate volume ∝ nTables * n² / 2^(planes+1),
    * so planes must GROW with the corpus to keep expected bucket
    * occupancy n/2^planes under `targetBucket` — planes =
    * ceil(log2(n / targetBucket)), floored at 4 (the recall-first
    * small-corpus config) and capped at 24. Recall is then restored by
    * adding tables: sign-agreement probability for a pair at the
    * threshold cosine is p = 1 - acos(threshold)/π, a table catches it
    * w.p. p^planes, and nTables = ceil(ln(1-recall) / ln(1-p^planes))
    * tables catch it w.p. >= `targetRecall`. The formula reproduces
    * both measured configs: n=2k, thr 0.4 -> (14, 4) (~the 16x4
    * default, recall 0.97 measured); n=32k -> (91, 8) (~the measured
    * 96x8 point, recall 0.90, ~2.7x fewer candidates than 16x4). */
  def lshAutoConfig(n: Long, threshold: Double, targetRecall: Double = 0.9,
                    targetBucket: Long = 128L): (Int, Int) = {
    require(threshold > -1.0 && threshold < 1.0, "threshold in (-1, 1)")
    val planes = math.max(4, math.min(24,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val perTable = math.pow(p, planes)
    // tables capped at 256: past that the per-row kernel cost dominates
    // any residual recall gain — raise targetBucket instead
    val tables = math.max(1, math.min(256,
      math.ceil(math.log(1.0 - targetRecall) /
        math.log(1.0 - perTable)).toInt))
    (tables, planes)
  }

  /** Random-hyperplane LSH near-neighbor pairs: multi-table banding —
    * `nTables` independent tables of `planesPerTable` seeded
    * hyperplanes each; vectors colliding in ANY table's sign-pattern
    * bucket are candidates; exact cosine then filters. The bucketed
    * alternative to [[Dedup.embeddingPairsBrute]] — candidate-bounded,
    * never O(N²).
    *
    * DEFAULT CONFIG IS AUTO-TUNED: `nTables = 0` / `planesPerTable = 0`
    * mean "derive from a cheap corpus count via [[lshAutoConfig]]" —
    * bucket density (and with it candidate volume) stays bounded as the
    * corpus grows, recall >= 0.9 at the threshold by construction. The
    * measured motivation (BASELINE.md scaling table): a FIXED 16x4
    * config grows ~quadratically (3s -> 95s from 2k to 32k vectors)
    * while auto-scaled planes stay near-linear (10.6s at 32k). Pass
    * both values explicitly to pin a config (the oracle-replayed
    * queries do).
    *
    * Recall math: sign agreement prob for angle θ is 1-θ/π; a pair at
    * cosine 0.4 (θ≈66°, p≈0.634) collides per 4-plane table w.p.
    * 0.634^4≈0.16, across 16 tables w.p. ≈0.94 (measured 0.97 on the
    * testdata — whose true pairs all sit in the hard 0.4-0.6 cosine
    * band). Tables are pseudo-random literal arrays (seeded) — no
    * data-dependent state, reproducible run-to-run.
    *
    * One-shot shorthand for [[lshCosinePairsManaged]]: the internal
    * bucket cache stays pinned for the session — long-lived sessions
    * should use the managed variant and `close()` it. */
  def lshCosinePairs(emb: DataFrame, threshold: Double, nTables: Int = 0,
                     planesPerTable: Int = 0, dim: Int = 64, seed: Long = 42L,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    graft.cache.Pins.track(emb.sparkSession,
      lshCosinePairsManaged(emb, threshold, nTables, planesPerTable, dim,
        seed, idCol, vecCol)).value

  /** [[lshCosinePairs]] with an explicit cache lifecycle: the persisted
    * bucket projection backing the returned plan is released by
    * `close()` (same [[graft.access.Split.Branches]] discipline as
    * [[Dedup.minHashPairsManaged]]). Call close() after the pairs have
    * been consumed. */
  def lshCosinePairsManaged(emb: DataFrame, threshold: Double,
                            nTables: Int = 0, planesPerTable: Int = 0,
                            dim: Int = 64, seed: Long = 42L,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding")
      : graft.access.Split.Branches[DataFrame] = {
    // auto-tune on a cheap count (parquet count = footer metadata, no
    // row scan); partial configs (one of the two set) keep the given
    // value and derive the other
    val (tAuto, pAuto) =
      if (nTables > 0 && planesPerTable > 0) (nTables, planesPerTable)
      else {
        val (t0, p0) = lshAutoConfig(emb.count(), threshold)
        (if (nTables > 0) nTables else t0,
         if (planesPerTable > 0) planesPerTable else p0)
      }
    // all nTables*planesPerTable hyperplanes ride into the native
    // HyperplaneBits expression as one reference object; per row it
    // emits the nTables sign-pattern buckets in a single codegen'd
    // kernel pass
    val planes = lshPlanes(tAuto, pAuto, dim, seed)
    // Shuffle discipline: the bucket self-join and pair-dedup move only
    // (table, bits, id) — 20-byte rows. Vectors are attached AFTER
    // dedup via two joins against the (id, v) projection, so each
    // vector crosses the wire once per surviving candidate, never per
    // bucket row.
    // persisted: (id, table, bits) rows are consumed by both sides of
    // the self-join — without it each side re-runs the scan + kernel
    val buckets = emb
      .select(col(idCol).as("id"),
        posexplode(graft.functions.SketchExprs.hyperplaneBits(
          col(vecCol), planes, pAuto)).as(Seq("table", "bits")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = buckets.as("a")
      .join(buckets.as("b"), Seq("table", "bits"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()                                        // dedup across tables
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorOps.norm(col(vecCol)).as("n"))
    // no broadcast hint: AQE auto-broadcasts when vecs is small; at
    // 100 TB this correctly degrades to a shuffle join on id
    val result = pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col("v_a"), col("v_b"),
          col("n_a"), col("n_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    graft.access.Split.Branches(result, buckets)
  }

  // ---------------------------------------------------------------
  // SemDeDup: cluster-then-prune semantic deduplication
  // ---------------------------------------------------------------

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest k-means
    * cell, then WITHIN each cell drop any vector that has a
    * lower-id neighbor with cosine >= `tau` — within-cell lower-id
    * DOMINANCE, not one-per-connected-group: a vector is dropped if
    * ANY lower-id cell-mate is a near-dup, even one that was itself
    * dropped (chain a~b, b~c with a!~c keeps only {a}). The exemplar
    * choice is deterministic (dominance by min id) instead of random
    * so runs and the SQL oracle agree bit-for-bit; LlmSpec replays
    * the same rule brute-force.
    *
    * Recall is bounded by the clustering (a dup pair split across two
    * cells is not seen) — the published trade-off; raise `nCells`
    * resolution or fall back to [[lshCosinePairs]] +
    * [[Dedup.connectedComponents]] when cross-cell recall matters.
    *
    * Scale design: the cell assignment is ONE narrow codegen'd
    * projection (native NearestCell, no shuffle); the only shuffle is
    * the within-cell self-join, keyed by cell_id. Cost is
    * sum(|cell|²), so at 100 TB you scale `nCells` with the corpus
    * (the paper uses ~0.1% of N) to keep cells at a constant expected
    * size — cost then grows linearly in N. The assignment projection
    * is recomputed for both join sides rather than persisted: it is a
    * scan-side map with no shuffle above it, so recomputation costs
    * one extra parquet read but leaves no cache entry to manage; in a
    * real deployment persist it once with [[ivfWriteIndex]]
    * (partitioned by cell) and run the prune over the index.
    *
    * Returns the KEPT rows as `(idCol, cell_id)`, one per surviving
    * vector.
    *
    * Reference analog: porcupine has no ANN/embedding surface; this
    * extends the repo's curation pack (SURVEY §2 "beyond-reference"
    * scope) alongside [[Dedup.nearDupDedup]]. */
  private[graft] def semDedup(
      emb: DataFrame, centroids: Seq[Seq[Double]], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = assignCells(emb, centroids, idCol, vecCol)
    val a = assigned.select(col("cell_id").as("cell_a"),
      col(idCol).as("id_a"), col(vecCol).as("v_a"),
      VectorOps.norm(col(vecCol)).as("n_a"))
    val b = assigned.select(col("cell_id").as("cell_b"),
      col(idCol).as("id_b"), col(vecCol).as("v_b"),
      VectorOps.norm(col(vecCol)).as("n_b"))
    // same 6-decimal rounding before the threshold as every other
    // cosine gate in the repo, so the DuckDB oracle replays exactly;
    // norms hoisted per side so the within-cell pair loop is dot-only
    val dropped = a.join(b,
        col("cell_a") === col("cell_b") && col("id_b") < col("id_a"))
      .filter(round(VectorOps.cosineHoisted(col("v_a"), col("v_b"),
        col("n_a"), col("n_b")), 6) >= tau)
      .select(col("id_a").as(idCol))
      .distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell_id"))
  }

  /** [[semDedup]] with centroids built in-line by the deterministic
    * Lloyd refinement ([[kmeansCentroids]]). */
  def semDedupKmeans(emb: DataFrame, nCells: Int, iters: Int, tau: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    semDedup(emb, kmeansCentroids(emb, nCells, iters, idCol, vecCol), tau,
      idCol, vecCol)

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * diversified top-`k` — pick the best-cosine candidate first, then
    * greedily the candidate maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s)`, trading
    * relevance against redundancy with what is already picked (the
    * retrieval-side counterpart of SemDeDup: near-duplicate hits stop
    * crowding out coverage). Returns `(qIdCol, rank, idCol, score)` —
    * rank 1's score is its plain cosine, later ranks the MMR margin.
    *
    * Determinism/replay: every cosine is rounded to 6 places before
    * entering the margin, the margin itself is rounded before the
    * argmax, and ties break to the lowest id — so the greedy
    * trajectory replays exactly in ANSI SQL (a recursive CTE; the
    * λ-complement is written `1.0 − λ` on both sides to keep the
    * IEEE value identical).
    *
    * Scale shape: candidate generation is the distributed scan
    * ([[bruteTopK]] here; swap in [[ivfTopKWith]] output upstream for
    * the ANN path — any `(qIdCol, idCol, cosine)` frame works via
    * `nCandidates`); the greedy loop runs per query over its
    * ≤ `nCandidates` candidates inside `flatMapGroups` — O(k·N·dim)
    * per query, embarrassingly parallel across queries, no state
    * larger than one candidate set ever materializes. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                nCandidates: Int = 20, lambda: Double = 0.7,
                idCol: String = "vec_id", vecCol: String = "embedding",
                qIdCol: String = "query_id", qVecCol: String = "query_vec")
      : DataFrame = {
    require(k >= 1 && nCandidates >= k,
      s"need nCandidates ($nCandidates) >= k ($k) >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = bruteTopK(corpus, queries, nCandidates, idCol, vecCol,
        qIdCol, qVecCol)
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(qIdCol).cast("long"), col(idCol).cast("long"),
        col("cosine"), col(vecCol).cast("array<double>"))
      .as[(Long, Long, Double, Seq[Double])]
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray
        mmrSelect(cs.map(c => (c._2, c._3, c._4.toArray)), k, lambda)
          .map(p => (qid, p._1, p._2, p._3))
      }
      .toDF(qIdCol, "rank", idCol, "score")
      .select(col(qIdCol), col("rank"), col(idCol), col("score"))
  }

  /** The greedy MMR loop over one query's candidates
    * (id, rounded query-cosine, vector): returns (rank, id, score). */
  private def mmrSelect(cands: Array[(Long, Double, Array[Double])],
                        k: Int, lambda: Double)
      : Seq[(Long, Long, Double)] = {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val n = cands.length
    if (n == 0) return Seq.empty
    val pairSim = new java.util.HashMap[Long, Double]()
    def sim(i: Int, j: Int): Double = {
      val key = math.min(i, j).toLong * n + math.max(i, j)
      pairSim.computeIfAbsent(key,
        _ => round6(cos(cands(i)._3, cands(j)._3)))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    while (selected.size < math.min(k, n)) {
      var bestIdx = -1; var bestScore = 0.0; var bestId = 0L
      var i = 0
      while (i < n) {
        if (!selected.contains(i)) {
          val (id, cosq, _) = cands(i)
          val score =
            if (selected.isEmpty) cosq
            else {
              var mx = Double.NegativeInfinity
              selected.foreach(s => mx = math.max(mx, sim(i, s)))
              round6(lambda * cosq - (1.0 - lambda) * mx)
            }
          if (bestIdx < 0 || score > bestScore ||
              (score == bestScore && id < bestId)) {
            bestIdx = i; bestScore = score; bestId = id
          }
        }
        i += 1
      }
      selected += bestIdx
      picks += ((selected.size.toLong, bestId, bestScore))
    }
    picks.toSeq
  }

  /** Embedding-space outlier report: every vector's L2 distance to
    * its assigned centroid, z-scored WITHIN its cell — the
    * embedding-space anomaly gate of a curation pipeline (mislabeled
    * / off-distribution / corrupted items sit far from any cluster
    * they land in). Returns one row per vector:
    * `(idCol, cell_id, dist, z, is_outlier)` with dist and z rounded
    * to 6 places and `is_outlier` evaluated ON the rounded z (oracle
    * replay rule); singleton / zero-variance cells report z = 0.
    *
    * Scale shape: assignment is the narrow codegen'd NearestCell
    * pass; distances are a per-row expression against the broadcast
    * centroid literals (dimension-ordered sum, so the value replays
    * in ANSI SQL); the per-cell moment table is |cells| rows built
    * with decimal-exact sums (map-side combined) and broadcast back.
    * One corpus-sized shuffle total (the cell_id aggregate). */
  def embedOutliers(emb: DataFrame, centroids: Seq[Seq[Double]],
                    zThreshold: Double = 2.0, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // distance to the ASSIGNED (= nearest, ties to lowest id)
    // centroid via the codegen'd NearestCellDist kernel: the same
    // dimension-ordered IEEE fold as the former
    // zip_with/aggregate literal-array chain (bit-identical, spec +
    // oracle-pinned), minus the cells x dim literal tree in every
    // plan (22 KB at 1024 cells) and the interpreted HOF per row
    val dist = sqrt(graft.functions.SketchExprs.nearestCellDist(
      col(vecCol), centroids))
    val d = assignCells(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("cell_id"), dist.as("_d"))
    val st = d.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("_n"),
        (sum(col("_d").cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("_mu"),
        (sum((col("_d") * col("_d")).cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("_msq"))
      .select(col("cell_id"), col("_mu"),
        sqrt(greatest(lit(0.0), col("_msq") - col("_mu") * col("_mu")))
          .as("_sg"))
    val z = round(when(col("_sg") > 0.0,
      (col("_d") - col("_mu")) / col("_sg")).otherwise(0.0), 6)
    d.join(broadcast(st), Seq("cell_id"))
      .select(col(idCol), col("cell_id"), round(col("_d"), 6).as("dist"),
        z.as("z"), (z >= zThreshold).as("is_outlier"))
  }

  /** Prototype-hardness pruning (the SSL-prototypes rule of Sorscher
    * et al. 2022, "Beyond neural scaling laws", arXiv:2206.14486):
    * k-means cells stand in for prototypes; an example's difficulty
    * is its L2 distance to its own prototype, and pruning keeps the
    * HARDEST `keepFrac` of every cell — in the abundant-data regime
    * the near-prototype examples are the redundant ones, and
    * cell-local ranking keeps the kept set spread across the space
    * instead of concentrating in the globally-hardest cluster.
    * Per vector: `(idCol, cell_id, dist, rank, n_cell, kept)` —
    * rank 1 = hardest, ties on the ROUNDED distance break to the
    * lower id (oracle replay rule), and
    * `kept = rank <= ceil(n_cell * keepFrac)`, so every non-empty
    * cell keeps at least one example (prototype coverage survives
    * pruning).
    *
    * Scale shape: assignment is the narrow codegen'd NearestCell
    * pass (centroids ride the train-once registry at call sites);
    * distances are per-row expressions against broadcast centroid
    * literals; the one corpus-sized shuffle is the per-cell rank
    * window. At 100 TB swap the exact window for a per-cell
    * approx-quantile distance cut (`approx_percentile(dist,
    * 1-keepFrac)` per cell — |cells| rows — broadcast back, keep
    * `dist >= cut`): same report shape with no rank window; the
    * exact window here is the oracle contract, the same
    * exact-vs-sketch split every sketch family in this pack
    * documents. */
  def protoPrune(emb: DataFrame, centroids: Seq[Seq[Double]],
                 keepFrac: Double = 0.5, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, s"keepFrac $keepFrac")
    // own-centroid distance via the codegen'd kernel — bit-identical
    // to the former literal-array zip_with fold (see embedOutliers)
    val dist = sqrt(graft.functions.SketchExprs.nearestCellDist(
      col(vecCol), centroids))
    val d = assignCells(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("cell_id"), round(dist, 6).as("dist"))
    val wr = Window.partitionBy(col("cell_id"))
      .orderBy(col("dist").desc, col(idCol).asc)
    val wc = Window.partitionBy(col("cell_id"))
    d.withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(wc))
      .select(col(idCol), col("cell_id"), col("dist"), col("rank"),
        col("n_cell"),
        (col("rank") <= ceil(col("n_cell") * lit(keepFrac)))
          .as("kept"))
  }

  /** The 100 TB form of [[protoPrune]], with its accuracy PROVEN
    * rather than documented: instead of the exact per-cell rank
    * window (a corpus-sized shuffle sorted within every cell), each
    * cell takes an approx-quantile distance cut
    * (`approx_percentile(dist, 1-keepFrac)` — mergeable sketch,
    * map-side combined, |cells| output rows) and keeps
    * `dist >= cut`. Emits one row per cell:
    * `(cell_id, n_cell, kept_target, within_band)` where
    * `kept_target = ceil(n_cell·keepFrac)` is the exact rule's keep
    * count and `within_band` checks the approx path kept a count
    * within `max(2, tolFrac·n_cell)` of it. The sketch-dependent
    * count itself is NOT emitted — the verdict is the contract, so
    * an oracle engine checks its OWN quantile sketch the same way
    * (the llm_len_approx device).
    *
    * Scale shape: same narrow assignment scan as [[protoPrune]];
    * the rank window is replaced by one map-side-combined sketch
    * aggregate plus a broadcast-back join — nothing corpus-sized is
    * ever sorted. */
  def protoPruneApprox(emb: DataFrame, centroids: Seq[Seq[Double]],
                       keepFrac: Double = 0.5, tolFrac: Double = 0.1,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac < 1.0, s"keepFrac $keepFrac")
    // own-centroid distance via the codegen'd kernel — bit-identical
    // to the former literal-array zip_with fold (see embedOutliers)
    val dist = sqrt(graft.functions.SketchExprs.nearestCellDist(
      col(vecCol), centroids))
    val d = assignCells(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("cell_id"), round(dist, 6).as("dist"))
    val cuts = d.groupBy(col("cell_id"))
      .agg(expr(s"approx_percentile(dist, ${1.0 - keepFrac}D, 10000)")
        .as("_cut"))
    d.join(broadcast(cuts), Seq("cell_id"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_cell"),
        sum(when(col("dist") >= col("_cut"), 1L).otherwise(0L))
          .as("_ak"))
      .select(col("cell_id"), col("n_cell"),
        ceil(col("n_cell") * lit(keepFrac)).as("kept_target"),
        (abs(col("_ak") - ceil(col("n_cell") * lit(keepFrac)))
          .cast("double") <=
          greatest(lit(2.0), col("n_cell").cast("double") * lit(tolFrac)))
          .cast("int").as("within_band"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): the memory-bound ANN path. A 64-dim
  // float32 vector (256 B) compresses to m sub-centroid codes (m=4,
  // k=16 -> 4 small ints; 2 B bit-packed), so a 100 TB embedding
  // corpus becomes a ~1.5 TB code table that fans out over executors,
  // and query scoring never touches the original vectors — it reads
  // per-(sub, code) dot products out of a broadcast lookup table
  // (asymmetric distance computation, Jegou et al. 2011).
  // ------------------------------------------------------------------

  /** Per-subspace PQ codebooks: the embedding is split into `m`
    * contiguous subspaces of dim/m and each gets `k` sub-centroids
    * from the SAME decimal-exact Lloyd refinement as
    * [[kmeansCentroids]] (so codebooks are bit-reproducible and the
    * DuckDB oracle can replay them). Returns books(s)(c) =
    * sub-centroid c of subspace s.
    *
    * Scale note: all m subspaces train FUSED — one seed fetch plus
    * ONE job per Lloyd round (each row explodes into its m
    * (subspace, cell, slice) assignments; the per-round shuffle is
    * map-side-combined down to m*k*(dim/m) mean rows, corpus size
    * never rides the wire). At 100 TB you train on a bounded sample
    * (`corpus.limit(...)`/deterministic split) and encode the full
    * corpus with the fixed books; training cost is independent of
    * what you encode. */
  def pqCodebooks(corpus: DataFrame, m: Int = 4, k: Int = 16,
                  iters: Int = 2, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    memoized(corpus, s"pq:$m:$k:$iters:$dim:$idCol:$vecCol") {
      val sub = dim / m
      // seeds: one TakeOrdered fetch of the k lowest-id vectors,
      // sliced driver-side — identical to [[collectCentroids]] over
      // each slice projection, without m separate jobs
      val seeds = corpus.select(col(idCol), col(vecCol))
        .orderBy(col(idCol).asc).limit(k).collect()
        .map(_.getSeq[Number](1).map(_.doubleValue).toSeq)
      var books: Seq[Seq[Seq[Double]]] =
        (0 until m).map(s => seeds.map(_.slice(s * sub, (s + 1) * sub)).toSeq)
      var it = 0
      while (it < iters) {
        val slices = (0 until m).map { s =>
          val sv = slice(col(vecCol), s * sub + 1, sub)
          struct(lit(s).as("s"),
            graft.functions.SketchExprs.nearestCell(sv, books(s))
              .as("cell"),
            sv.as("v"))
        }
        // one fused assignment+mean job: decimal(38,12)-exact per-dim
        // sums exactly as [[kmeansCentroids]], keyed by (subspace,
        // cell, dim) so every subspace rides the same shuffle
        val mu = corpus.select(explode(array(slices: _*)).as("t"))
          .select(col("t.s").as("s"), col("t.cell").as("cell_id"),
            posexplode(col("t.v")).as(Seq("d", "x")))
          .groupBy(col("s"), col("cell_id"), col("d"))
          .agg((sum(col("x").cast("double").cast("decimal(38,12)"))
            .cast("double") / count(lit(1))).as("m"))
          .collect()
        books = (0 until m).map { s =>
          val rows = mu.filter(_.getInt(0) == s)
          // empty cells drop out; survivors re-index in cell-id order
          // (same convention as kmeansCentroids)
          rows.groupBy(_.getLong(1)).toSeq.sortBy(_._1).map {
            case (_, rs) => rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          }
        }
        it += 1
      }
      books
    }
  }

  /** Encode each vector as its `m` nearest sub-centroid ids — one
    * narrow codegen'd projection (m native NearestCell kernels over
    * slices), no shuffle. This is the build step: at scale, persist
    * the (id, codes) frame once and every query batch scans codes
    * only. */
  private[graft] def pqEncode(
      corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), pqCodes(col(vecCol), books).as("codes"))

  /** A vector's codes under `books`: per subspace, the nearest
    * sub-centroid of its slice. */
  private def pqCodes(vec: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val sub = books.head.head.length
    array(books.indices.map { s =>
      graft.functions.SketchExprs.nearestCell(
        slice(vec, s * sub + 1, sub), books(s))
    }: _*)
  }

  /** PQ/ADC top-k: queries broadcast with a per-query lookup table of
    * all m*k sub-dot-products; the corpus side contributes ONLY its
    * codes, so the scan is code-width, not vector-width. The cosine
    * is against the RECONSTRUCTED vector x̂ (concatenated
    * sub-centroids): cos(q, x̂) = Σ_s lut[s,code_s] / (|q| ·
    * sqrt(Σ_s |c_{s,code_s}|²)) — reconstruction norms come from a
    * plan-literal table (they depend only on the books). Sums run in
    * subspace order on both engines, keeping the rounded scores
    * oracle-exact.
    *
    * Output contract matches [[bruteTopK]]: (query_id, rank, vec_id,
    * cosine) with ties to the lowest id — recall vs the float path is
    * asserted in LlmSpec. */
  private[graft] def pqTopK(
      corpus: DataFrame, queries: DataFrame, books: Seq[Seq[Seq[Double]]],
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"): DataFrame =
    pqTopKFromCodes(pqEncode(corpus, books, idCol, vecCol), queries,
      books, k, idCol, qIdCol, qVecCol)

  /** Persist the PQ code table — the other half of the ANN artifact
    * story next to [[ivfWriteIndex]]: encode once per corpus version
    * and search the (id, m-byte codes) parquet forever after. At
    * 100 TB the code table is ~dim·4/m smaller than the vectors
    * (64-dim float -> 4 codes is 64x), so the ADC scan reads
    * gigabytes where the vector scan reads terabytes. */
  def pqWriteIndex(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
                   indexDir: String, idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   nBuckets: Int = 16): Unit =
    // stable id-hash buckets: the rewrite unit for [[pqPatchIndexAuto]]
    // (bucket membership never moves with a codebook refresh, so an
    // unaffected bucket's files survive the patch byte-for-byte); the
    // codebook sidecar goes next to them — codes are meaningless
    // without the books they were encoded with
    writeLayout(
      pqEncode(corpus, books, idCol, vecCol)
        .withColumn("pq_bucket", pmod(col(idCol), lit(nBuckets.toLong))),
      PqLayout, indexDir, books)

  /** ADC top-k over a persisted [[pqWriteIndex]] code table, under the
    * codebooks of the table's own sidecar — ADC scoring cannot
    * silently disagree with the books the codes were produced under.
    * No vector read, no encode recompute: the scan is the code-width
    * parquet. Serves main ∪ `_delta` when a [[pqAppendBatch]] segment
    * stands (delta codes were encoded under the same sidecar books). */
  def pqTopKIndexedAuto(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, queries: DataFrame, k: Int,
                        idCol: String = "vec_id",
                        qIdCol: String = "query_id",
                        qVecCol: String = "query_vec"): DataFrame = {
    val books = servedModel(spark, indexDir, PqLayout)
    pqTopKFromCodes(indexFrame(spark, indexDir, PqLayout), queries,
      books, k, idCol, qIdCol, qVecCol)
  }

  /** Patch a persisted [[pqWriteIndex]] code table IN PLACE after a
    * codebook refresh — the PQ half of the [[ivfPatchIndex]] story.
    * The OLD books are the sidecar's (the set the standing codes were
    * actually produced under), read once any pending swap has landed:
    * a stale old set would mis-detect the changed rows. One narrow
    * `(id, vector)` corpus scan encodes each row under BOTH books;
    * only buckets containing a row whose codes changed are rewritten
    * (all their rows re-encoded under `newBooks` — the parquet
    * partition is the rewrite unit), through the SAME commit-marker
    * swap protocol as [[ivfPatchIndex]], so a crash at any point is
    * recovered on the next entry and untouched buckets keep their
    * files byte-for-byte. Returns `(rowsChanged, bucketsRewritten)`.
    *
    * Unlike IVF (whose index stores the vectors), a PQ refresh MUST
    * read vectors to re-encode — the honest 100 TB cost is one
    * narrow corpus scan for the diff + writes proportional to the
    * affected buckets' mass; a small codebook drift rewrites a few
    * buckets instead of re-encoding the corpus into a fresh index.
    * `nBuckets` must match the value the index was written with.
    *
    * MEMBERSHIP CONTRACT: the rewrite follows the INDEX's current
    * membership, not the corpus's — corpus rows absent from the
    * index (taken down after the corpus was snapshotted, or never
    * appended) are semi-joined away so a completed [[Takedown
    * .pqTakedown]] can never be resurrected by a later patch; and
    * the corpus must cover the index's WHOLE membership (an
    * uncovered row could neither be re-checked for movement nor
    * rewritten — it would serve stale codes under the advanced
    * sidecar), or the patch fails fast before touching anything. */
  def pqPatchIndexAuto(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, corpus: DataFrame,
                       newBooks: Seq[Seq[Seq[Double]]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       nBuckets: Int = 16): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    settleForPatch(spark, indexDir, "pqPatchIndexAuto", "pqCompactDelta")
    val oldBooks = layoutModel(spark, indexDir, PqLayout)
    if (oldBooks == newBooks) return (0L, 0L)
    // the patch re-encodes the STANDING membership, not whatever the
    // caller handed us: a corpus row absent from the index (taken
    // down, or never appended) must not resurrect into an affected
    // bucket's rewrite — semi-join the diff frame to the index's ids
    // (a narrow id-only scan of the code table)
    val idxIds = graft.Writes.readParquet(spark, indexDir)
      .select(col(idCol), col("pq_bucket").cast("long").as("_ib"))
    val re = corpus.select(col(idCol),
        pmod(col(idCol), lit(nBuckets.toLong)).as("pq_bucket"),
        pqCodes(col(vecCol), oldBooks).as("_old"),
        pqCodes(col(vecCol), newBooks).as("_new"))
      .join(idxIds.select(col(idCol)), Seq(idCol), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // the converse hole: an index row the corpus can't re-encode.
    // In an affected bucket it would VANISH from the rewrite; in any
    // other bucket it could never be DETECTED as a mover in the
    // first place and would serve stale codes under the advanced
    // sidecar — so coverage must hold for the WHOLE membership, and
    // we fail fast before any action mutates (an id-only anti-join,
    // the cheapest scan in the patch)
    val uncovered = idxIds
      .join(re.select(col(idCol)), Seq(idCol), "left_anti").count()
    require(uncovered == 0L,
      s"pqPatchIndexAuto: $uncovered index rows of $indexDir are " +
        "missing from the supplied corpus — their codes could " +
        "neither be re-checked nor rewritten under the new books; " +
        "pass a corpus covering the index's current membership")
    // moved count and affected-bucket set in ONE action (the
    // collect_set is nBuckets-bounded driver state)
    val stats = re.filter(col("_old") =!= col("_new"))
      .agg(count(lit(1)).as("n"),
        collect_set(col("pq_bucket")).as("bs"))
      .collect()(0)
    val moved = stats.getLong(0)
    val affected = stats.getSeq[Long](1).sorted
    // with no code changed the standing table already IS the newBooks
    // encoding and only the sidecar entry swaps in; buckets never
    // disappear (id-hash membership is books-independent), so every
    // affected bucket has fresh content
    Swap.commit(spark, indexDir,
        affected.map(b => s"pq_bucket=$b") :+ BooksSidecar) { tmp =>
      if (affected.nonEmpty)
        graft.Writes.clusterByPartitions(
            re.filter(col("pq_bucket").isin(affected: _*))
              .select(col(idCol), col("_new").as("codes"),
                col("pq_bucket")), "pq_bucket")
          .write.partitionBy("pq_bucket").parquet(tmp.toString)
      writeModelSidecar(fs,
        new org.apache.hadoop.fs.Path(tmp, BooksSidecar), newBooks)
    }
    (moved, affected.length.toLong)
    } finally re.unpersist(blocking = false)
  }

  /** [[ivfAppendBatch]]'s PQ sibling: encode the new vectors under
    * the table's own sidecar books and publish them as a batch-keyed
    * `_delta` segment — main buckets untouched, replay replaces,
    * serving unions transparently. `nBuckets` must match the value
    * the index was written with (bucket = id-hash, the patch rewrite
    * unit). Fold with [[pqCompactDelta]]; a codebook patch fails fast
    * on a standing delta (its codes would go stale). */
  def pqAppendBatch(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, rows: DataFrame, batchId: Long,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    nBuckets: Int = 16): Long =
    appendDelta(spark, indexDir, PqLayout, batchId) { books =>
      pqEncode(rows, books, idCol, vecCol)
        .withColumn("pq_bucket", pmod(col(idCol), lit(nBuckets.toLong)))
    }

  /** Fold a [[pqAppendBatch]] `_delta` segment into its `pq_bucket=`
    * partitions — [[ivfCompactDelta]]'s protocol on the code table. */
  def pqCompactDelta(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): (Long, Long) =
    compactDeltaInto(spark, indexDir, PqLayout.partCol)

  /** The ADC scoring core shared by [[pqTopK]] (inline encode) and
    * [[pqTopKIndexedAuto]] (persisted codes): `codes` is any
    * `(id, codes array<long>)` relation. */
  private def pqTopKFromCodes(codes: DataFrame, queries: DataFrame,
                              books: Seq[Seq[Seq[Double]]], k: Int,
                              idCol: String, qIdCol: String,
                              qVecCol: String): DataFrame = {
    val m = books.length
    val kk = books.head.length
    val sub = books.head.head.length
    // |c_{s,code}|² flattened to a literal (index s*kk + code):
    // driver-side left-to-right sums, same order as the oracle's
    // list_sum over the centroid vector
    val cn2: Seq[Double] =
      for (s <- 0 until m; c <- 0 until kk)
        yield books(s)(c).map(x => x * x).sum
    val lut = array((for (s <- 0 until m; c <- 0 until kk) yield
      graft.functions.SketchExprs.vecDot(
        slice(col(qVecCol), s * sub + 1, sub),
        typedlit(books(s)(c)))): _*)
    val q = queries.select(col(qIdCol), lut.as("_lut"),
      VectorOps.norm(col(qVecCol)).as("_qn"))
    def at(arr: Column, s: Int): Column =
      element_at(arr,
        (lit(s * kk) + element_at(col("codes"), s + 1)).cast("int") + 1)
    val num = (0 until m).map(s => at(col("_lut"), s)).reduce(_ + _)
    val rn = sqrt((0 until m).map(s => at(typedlit(cn2), s)).reduce(_ + _))
    // a zero query or reconstruction has no cosine: NULL, ranked last
    val den = col("_qn") * rn
    val scored = codes.crossJoin(broadcast(q))
      .withColumn("cosine", when(den > 0, round(num / den, 6)))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** PQ candidate generation + exact re-rank — the deployment shape:
    * ADC over the code table nominates `rerank` candidates per query
    * (code-width scan, no vectors touched), then ONLY those
    * rerank×Q rows fetch their float vectors (an id equi-join
    * against the corpus — at 100 TB this is the point: the full
    * vector table is read at rerank×Q rows, not N) and exact cosine
    * reorders them. Raw ADC recall@10 is ~0.3-0.4 at m=4 — it is a
    * candidate generator, not a ranker; re-ranked recall is asserted
    * >= 0.85 in LlmSpec. */
  def pqTopKRerank(corpus: DataFrame, queries: DataFrame,
                   books: Seq[Seq[Seq[Double]]], k: Int, rerank: Int = 50,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qIdCol: String = "query_id", qVecCol: String = "query_vec")
      : DataFrame = {
    val cand = pqTopK(corpus, queries, books, rerank, idCol, vecCol,
        qIdCol, qVecCol)
      .select(col(qIdCol), col(idCol))
    val q = queries.select(col(qIdCol), col(qVecCol),
      VectorOps.norm(col(qVecCol)).as("_qn"))
    val scored = cand
      .join(corpus.select(col(idCol), col(vecCol),
        VectorOps.norm(col(vecCol)).as("_cn")), Seq(idCol))
      .join(broadcast(q), Seq(qIdCol))
      .withColumn("cosine",
        round(VectorOps.cosineHoisted(col(vecCol), col(qVecCol),
          col("_cn"), col("_qn")), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** [[pqTopK]] with books trained in-line on the corpus (small-scale
    * convenience; see the [[pqCodebooks]] sampling note for 100 TB). */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                    m: Int = 4, nCodes: Int = 16, iters: Int = 2,
                    dim: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qIdCol: String = "query_id", qVecCol: String = "query_vec")
      : DataFrame =
    pqTopK(corpus, queries,
      pqCodebooks(corpus, m, nCodes, iters, dim, idCol, vecCol), k,
      idCol, vecCol, qIdCol, qVecCol)

  /** Recall@k — the ANN quality gauge as an operator: fraction of the
    * EXACT top-k retrieved by the approximate ranking, per query.
    * `exact` and `approx` are `(query_id, vec_id, ...)` top-k lists
    * (ranks beyond `k` on the approx side still count as hits only if
    * the pair matches — pass rank-trimmed lists). Output `(query_id,
    * n_hits, recall)`.
    *
    * This is the harness that justifies an index config (IVF nProbe,
    * LSH tables, PQ bits) BEFORE committing a 100 TB scan to it —
    * run on a query sample, read the recall distribution, then dial
    * the index. Both inputs are k-bounded per query, so the join and
    * aggregate are |queries|·k-sized regardless of corpus size. */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int,
                qIdCol: String = "query_id", idCol: String = "vec_id")
      : DataFrame = {
    val e = exact.select(col(qIdCol), col(idCol))
    val a = approx.select(col(qIdCol), col(idCol))
      .withColumn("_hit", lit(1L))
    e.join(a, Seq(qIdCol, idCol), "left")
      .groupBy(col(qIdCol))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .select(col(qIdCol), col("n_hits"),
        round(col("n_hits").cast("double") / lit(k).cast("double"), 6)
          .as("recall"))
  }

  /** Graded retrieval metrics over a ranked list vs a relevance set —
    * the IR eval harness ([[annRecall]]'s generalization): per query
    * MRR (reciprocal rank of the first relevant hit), precision@k,
    * recall@k, and binary nDCG@k (`dcg = Σ_hits 1/log2(rank+1)`,
    * ideal = the same sum over ranks `1..min(|rel|,k)`). `ranked` is
    * `(query_id, doc_id, rank)` (rows with rank > k are ignored);
    * `rels` is the `(query_id, doc_id)` relevance set. Output
    * `(query_id, n_rel, n_hits, mrr, p_at_k, recall_at_k,
    * ndcg_at_k)`, one row per query IN THE RELEVANCE SET (the TREC
    * convention: queries with no judged-relevant docs are not
    * scored); a judged query the ranker missed entirely reports all
    * zeros. Discount sums go through the
    * decimal cast (order-independent) and every metric rounds to 6
    * before comparison, the repo-wide replay convention.
    *
    * Scale: the ranked side is k-bounded per query and the metrics
    * join/aggregate only on (query, doc) keys, so cost is
    * |queries|·k regardless of corpus size; the relevance set
    * contributes one |rels|-sized count aggregate. The rankers being
    * judged carry the real cost, exactly as in [[annRecall]]. */
  def rankEval(ranked: DataFrame, rels: DataFrame, k: Int,
               qIdCol: String = "query_id", idCol: String = "doc_id",
               rankCol: String = "rank"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val r = ranked.select(col(qIdCol), col(idCol),
        col(rankCol).cast("long").as("_rk"))
      .filter(col("_rk") <= k)
    val rel = rels.select(col(qIdCol), col(idCol))
      .withColumn("_rel", lit(1L))
    val nRel = rels.groupBy(col(qIdCol))
      .agg(count(lit(1)).as("n_rel"))
    val dec = (c: Column) => c.cast("decimal(38,18)")
    val hits = r.join(rel, Seq(qIdCol, idCol), "left")
      .groupBy(col(qIdCol))
      .agg(sum(coalesce(col("_rel"), lit(0L))).as("n_hits"),
        min(when(col("_rel").isNotNull, col("_rk"))).as("_first"),
        sum(dec(when(col("_rel").isNotNull,
            lit(1.0) / log2(col("_rk").cast("double") + 1.0))
          .otherwise(lit(0.0)))).as("_dcg"))
    // ideal DCG: Σ_{i=1..min(n_rel,k)} 1/log2(i+1) — a k-term
    // prefix-sum literal indexed by min(n_rel,k), no second scan
    val idcgPrefix = (1 to k).scanLeft(BigDecimal(0)) { (acc, i) =>
      acc + BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
    }.tail
    val idcgArr = array(idcgPrefix.map(v => lit(v.toDouble)): _*)
    nRel.join(hits, Seq(qIdCol), "left")
      .select(col(qIdCol), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(lit(1.0) / col("_first").cast("double"),
          lit(0.0)), 6).as("mrr"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(k.toDouble), 6).as("p_at_k"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double"), 6).as("recall_at_k"),
        round(when(col("n_rel") > 0,
            coalesce(col("_dcg").cast("double"), lit(0.0)) /
              element_at(idcgArr,
                least(col("n_rel"), lit(k.toLong)).cast("int")))
          .otherwise(lit(0.0)), 6).as("ndcg_at_k"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of
    * two per-query rankings — the standard hybrid-search combiner for
    * a lexical ranker (BM25) and a dense ranker (embedding cosine):
    * `rrf(d) = Σ_r 1/(c + rank_r(d))`, summed over the rankers that
    * retrieved `d` (absent ⇒ contributes 0). Rank fusion needs no
    * score calibration between rankers, which is exactly why it wins
    * over weighted score sums when the two score scales are alien
    * (log-idf sums vs cosines).
    *
    * Inputs are `(query_id, doc_id, rank)` relations — top-n lists
    * from any two rankers with aligned ids. Output: `(query_id, rank,
    * doc_id, rrf_score, rank_a, rank_b)`, top `k` per query, ties on
    * the rounded score to the smaller doc id; `rank_a`/`rank_b` are
    * null when that ranker did not retrieve the doc.
    *
    * Scale: both inputs are candidate-bounded (≤ n·|queries| rows) —
    * the expensive part of hybrid search is the rankers themselves
    * (BM25's postings join, the ANN index probe), each already shaped
    * for 100 TB; the fusion is one join + one per-query window over
    * ≤ 2n rows per query, negligible at any corpus size. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
              qIdCol: String = "query_id", idCol: String = "doc_id",
              rankCol: String = "rank"): DataFrame = {
    val ra = a.select(col(qIdCol), col(idCol),
      col(rankCol).cast("long").as("rank_a"))
    val rb = b.select(col(qIdCol), col(idCol),
      col(rankCol).cast("long").as("rank_b"))
    // full outer: a doc retrieved by either ranker is a candidate.
    // 1/(c+rank) terms are added a-then-b (the oracle replays the
    // same left-to-right double adds before the round).
    val fused = ra.join(rb, Seq(qIdCol, idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(c).cast("double") +
          col("rank_a").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c).cast("double") +
          col("rank_b").cast("double")), lit(0.0)), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("rrf_score"),
        col("rank_a"), col("rank_b"))
  }
}
