package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything keys off a CONTENT hash (builtin md5 — engine-portable,
  * family-independent), not `rand()`: the split a document lands in is
  * a pure function of its text, so splits are reproducible across
  * runs, clusters, and engine versions, and survive re-ingestion or
  * re-partitioning of the corpus — the property training/eval
  * separation actually requires. All ops are narrow projections (the
  * hash is computed scan-side; only the assignment rides shuffles).
  */
object Sampling {

  /** First 4 md5 bytes of a column as an unsigned 32-bit value in
    * [0, 2^32): `CAST(('0x' || substring(md5(x),1,8)) AS BIGINT)` in
    * ANSI SQL. */
  def hashBucket32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Percent bucket in [0, 100). */
  private[graft] def pctBucket(c: Column): Column = hashBucket32(c) % 100

  /** Deterministic split assignment from cumulative percent weights:
    * e.g. `Seq("train" -> 80, "val" -> 10, "test" -> 10)`. The last
    * split absorbs any remainder. NULL content gets a NULL split (no
    * hash = no assignment) — without the guard, md5(null) nulls every
    * `b < cut` test and the otherwise-branch would silently dump every
    * null-content row into the LAST split, biasing the eval set. */
  def splitColumn(c: Column, weights: Seq[(String, Int)]): Column = {
    require(weights.nonEmpty && weights.map(_._2).sum <= 100,
      "weights must total <= 100 percent")
    val b = pctBucket(c)
    val cuts = weights.map(_._2).scanLeft(0)(_ + _).tail
    val assigned = weights.init.zip(cuts.init)
      .foldLeft(None: Option[Column]) { case (acc, ((name, _), cut)) =>
        Some(acc.fold(when(b < cut, name))(_.when(b < cut, name)))
      }
      .fold(lit(weights.last._1))(_.otherwise(weights.last._1))
    when(c.isNotNull, assigned)
  }

  /** Cluster-balanced diversity sample over an embedding column: each
    * vector is assigned its nearest IVF cell (narrow codegen'd
    * NearestCell pass — no crossJoin) and at most `perCell` vectors
    * survive per cell, chosen deterministically by (content-hash, id)
    * within the cell. Dominant modes of the corpus are capped while
    * tail clusters survive intact — the topic-balancing step of a
    * curation pipeline, reproducible run-to-run because nothing draws
    * from `rand()`.
    *
    * Returns `(idCol, cell_id)` for the kept rows.
    *
    * Scale: ONE shuffle keyed by cell; the per-cell rank is a window
    * over that partitioning. A mega-cell concentrates its sort on one
    * partition — the standard answer (raise nCells so expected cell
    * size stays bounded, as [[graft.llm.Similarity.semDedupKmeans]]'s
    * ScaleBench entry demonstrates, or pre-prune with a coarser
    * sub-split key) applies; perCell ≪ cell-size keeps the surviving
    * output tiny either way. */
  def clusterBalancedSample(emb: DataFrame, centroids: Seq[Seq[Double]],
                            perCell: Int, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val assigned = graft.llm.Similarity.assignCells(
      emb, centroids, idCol, vecCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell_id"))
      .orderBy(hashBucket32(col(idCol).cast("string")).asc,
        col(idCol).asc)
    assigned
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= perCell)
      .select(col(idCol), col("cell_id"))
  }

  /** EXACT stratified train/val/test split: per source, rank docs
    * by the deterministic md5 bucket (lowest-id tiebreak) and cut
    * exactly `floor(n·testFrac)` test rows then `floor(n·valFrac)`
    * val rows — the eval-set-size guarantee the content-hash split
    * (`llm_split`) deliberately trades away for shuffle-freedom:
    * hash assignment gives only EXPECTED proportions, while an eval
    * harness usually needs exact per-source counts. Still a pure
    * function of the corpus (no rand()); adding docs to a source
    * reshuffles only that source's cut line.
    *
    * Scale shape: one narrow (id, source) projection, one shuffle
    * for the per-source rank window. A dominant source concentrates
    * its sort on one partition — at 100 TB take the split threshold
    * from the per-source approx-quantile of the hash instead:
    * [[stratifiedSplitApprox]] IS that path (|sources| cut rows, no
    * rank window) at ±sketch-error counts. */
  def stratifiedSplit(docs: DataFrame, valFrac: Double = 0.1,
                      testFrac: Double = 0.1,
                      sourceCol: String = "source",
                      idCol: String = "doc_id"): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      s"bad fracs: val=$valFrac test=$testFrac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(hashBucket32(col(idCol).cast("string")).asc,
        col(idCol).asc)
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
    val nTest = floor(col("_n") * lit(testFrac))
    val nVal = floor(col("_n") * lit(valFrac))
    docs.select(col(idCol), col(sourceCol))
      .withColumn("_r", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(cw))
      .select(col(idCol), col(sourceCol),
        when(col("_r") <= nTest, lit("test"))
          .when(col("_r") <= nTest + nVal, lit("val"))
          .otherwise(lit("train")).as("split"))
  }

  /** Realize an EXPLICIT target source mixture by deterministic
    * thinning — the apply step for a computed mixture plan (e.g.
    * [[graft.llm.TextAnalysis.domainReweight]]'s weights): with
    * current shares `c_s = n_s / N` and target shares `w_s`, the
    * downsample-only rates are `r_s = (w_s / c_s) / max_t (w_t/c_t)`
    * — the most-under-represented source keeps everything (rate 1)
    * and every other source thins toward the target mix; no
    * upsampling, so the op stays a filter. The keep decision is the
    * repo's deterministic md5 bucket on the id (no rand()); rates
    * round to 6 decimals before the threshold (the replayability
    * convention). Sources absent from `weights` are dropped (target
    * share zero). Returns kept rows as (idCol, sourceCol,
    * keep_rate).
    *
    * Scale: [[temperatureSample]]'s exact mechanics — one map-side-
    * combined count aggregation (|sources| rows to the driver), then
    * a shuffle-free scan+filter with the rate table as a plan
    * literal. No per-row join, no window. */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
                    sourceCol: String = "source",
                    idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty, "target mixture must not be empty")
    val strat = docs.filter(col(sourceCol).isNotNull &&
      col(sourceCol).cast("string").isin(weights.keys.toSeq: _*))
    val counts = strat.groupBy(col(sourceCol).cast("string").as("_src"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty)
      return strat
        .select(col(idCol), col(sourceCol), lit(1.0).as("keep_rate"))
        .limit(0)
    val total = counts.values.sum.toDouble
    val raw = counts.map { case (s, n) => s -> weights(s) / (n / total) }
    val maxR = raw.values.max
    val rate = raw.map { case (s, r) =>
      s -> BigDecimal(r / maxR)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rateCol = rate.foldLeft(lit(Double.NaN)) { case (acc, (s, r)) =>
      when(col(sourceCol).cast("string") === s, lit(r)).otherwise(acc)
    }
    strat.select(col(idCol), col(sourceCol), rateCol.as("keep_rate"))
      .filter(hashBucket32(col(idCol).cast("string")).cast("double") <
        col("keep_rate") * (1L << 32).toDouble)
  }

  /** Temperature-scaled multinomial source balancing (the mT5/XLM-R
    * mixture move): with source shares `p_s = n_s / N`, resampling to
    * `q_s ∝ p_s^alpha` (alpha < 1 flattens the mix toward the tail)
    * under a down-sample-only policy gives per-source keep rates
    * `r_s = (p_s / p_min)^(alpha-1)` — the smallest source keeps
    * everything, dominant sources are thinned. The keep decision is
    * the repo's deterministic md5 bucket on the id, so the sample is
    * a pure function of the corpus (no rand()). Rates are rounded to
    * 6 decimals before the threshold — the same replayability
    * convention as every cosine gate.
    *
    * Returns the kept rows as (idCol, sourceCol, keep_rate).
    *
    * Scale: one map-side-combined count aggregation (|sources| rows to
    * the driver — bounded like every stats table here), then a
    * shuffle-free scan+filter with the rate table as a plan literal.
    * No per-row join, no window. */
  def temperatureSample(docs: DataFrame, alpha: Double = 0.7,
                        sourceCol: String = "source",
                        idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha $alpha must be in (0, 1]")
    // NULL-source rows have no stratum: excluded up front so they
    // neither crash the rate table nor skew the share arithmetic
    val strat = docs.filter(col(sourceCol).isNotNull)
    // cast-to-string here (not getString) so a non-string stratum
    // column (int source ids) works; the rate column below compares
    // against the same casted form
    val counts = strat.groupBy(col(sourceCol).cast("string").as("_src"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // degenerate corpus (empty, or all-NULL sources): no strata means
    // no rate table — return the empty keep set rather than crash on
    // counts.values.min
    if (counts.isEmpty)
      return strat
        .select(col(idCol), col(sourceCol), lit(1.0).as("keep_rate"))
        .limit(0)
    val total = counts.values.sum.toDouble
    val pMin = counts.values.min / total
    val rate = counts.map { case (s, n) =>
      s -> BigDecimal(math.pow(n / total / pMin, alpha - 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rateCol = rate.foldLeft(lit(Double.NaN)) { case (acc, (s, r)) =>
      when(col(sourceCol).cast("string") === s, lit(r)).otherwise(acc)
    }
    strat.select(col(idCol), col(sourceCol), rateCol.as("keep_rate"))
      .filter(hashBucket32(col(idCol).cast("string")).cast("double") <
        col("keep_rate") * (1L << 32).toDouble)
  }

  /** Deterministic Gumbel-top-k: sample `k` rows WITHOUT replacement
    * with probability ∝ exp(weightCol) by ranking on
    * `weight + Gumbel(hash(id))` — the Gumbel-max trick with the
    * repo's md5 bucket standing in for the uniform draw
    * (`u = (h32+1) / 2^32+1` ∈ (0,1), `g = -ln(-ln u)`), so the
    * sample is a pure function of the corpus. Keys are rounded to 6
    * decimals before ranking (the replayability convention); ties
    * break to the lowest id. Pairs with [[dsirWeights]] to turn
    * importance scores into an actual selection.
    *
    * Scale: one narrow key projection + one global top-k
    * (TakeOrdered — per-partition heads, never a full sort). */
  def gumbelTopK(df: DataFrame, weightCol: Column, k: Int,
                 idCol: String = "doc_id"): DataFrame = {
    val u = (hashBucket32(col(idCol).cast("string")).cast("double") + 1.0) /
      4294967297.0
    val key = round(weightCol + (-log(-log(u))), 6)
    df.withColumn("gumbel_key", key)
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** DSIR-style importance weights (Xie et al. 2023,
    * arXiv:2302.03169): every document scores
    * `Σ_g ln(p̂_T(b(g)) / p̂_R(b(g)))` over its unigram+bigram
    * INSTANCES, where `b` hashes the gram into `buckets` buckets and
    * the two distributions are add-1-smoothed bucket frequencies of
    * the target (the data you want more of) and the raw corpus.
    * High weight = looks like the target; feed the weights to a
    * top-k cut or a Gumbel resample. The log-ratio sum runs through
    * DECIMAL(38,18) so the weight is partition-order-independent.
    *
    * Returns (idCol, n_grams, dsir_weight) for the raw docs.
    *
    * Scale: the feature space is FIXED (`buckets` rows bound both
    * count aggregations and the log-ratio table, which broadcasts);
    * the corpus contributes one narrow explode + one per-doc agg —
    * no quadratic anything, no vocabulary blow-up. */
  def dsirWeights(raw: DataFrame, target: DataFrame, buckets: Int = 1024,
                  textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    // family-aware gram hash (the per-GRAM hot path — one hash per
    // token instance): codegen'd XXH64 in production, the md5 bucket
    // under the oracle family, same switch as every sketch kernel
    def bucketOf(c: Column): Column =
      if (graft.functions.SketchOps.xxFamily())
        shiftrightunsigned(xxhash64(c), 4) % buckets
      else hashBucket32(c) % buckets
    def feats(df: DataFrame, cols: Column*): DataFrame = {
      val tk = df.withColumn("_tk", TextAnalysis.tokens(col(textCol)))
        .filter(size(col("_tk")) >= 1)
      val n1 = size(col("_tk")) - 1
      // unigram + bigram instances (NON-distinct: counts matter)
      val grams = concat(col("_tk"),
        zip_with(slice(col("_tk"), lit(1), n1),
          slice(col("_tk"), lit(2), n1),
          (a, b) => concat(a, lit(" "), b)))
      tk.select(cols :+ explode(grams).as("_g"): _*)
        .select(cols :+ bucketOf(col("_g")).as("b"): _*)
    }
    val rawCnt = feats(raw).groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgtCnt = feats(target).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rTot = rawCnt.agg(sum(col("cr")).cast("double").as("rtot"))
    val tTot = tgtCnt.agg(
      coalesce(sum(col("ct")), lit(0L)).cast("double").as("ttot"))
    // per-bucket log ratio, exactly the oracle's formula order
    val lr = rawCnt.join(tgtCnt, Seq("b"), "left")
      .crossJoin(broadcast(rTot)).crossJoin(broadcast(tTot))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) /
            (col("ttot") + buckets.toDouble)) -
          log((col("cr").cast("double") + 1.0) /
            (col("rtot") + buckets.toDouble))).as("lr"))
    feats(raw, col(idCol))
      .join(lr, Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr").cast("decimal(38,18)")).cast("double"), 6)
          .as("dsir_weight"))
  }

  /** Per-group quantile gate — the CCNet/DoReMi "per-domain adaptive
    * threshold" move: a single global score cutoff lets one clean
    * source crowd out every other domain, so instead each doc is
    * placed at its PERCENTILE within its own group and the gate keeps
    * the top `keepFrac` of every group. Output `(idCol, groupCol,
    * scoreCol, pct, keep)` with `pct` = cume_dist over
    * (score asc, id asc) — strict total order, deterministic — and
    * `keep = pct > 1 - keepFrac`. cume_dist (not percent_rank): a
    * doc is kept iff it sits inside the top `keepFrac` MASS of its
    * group, so a singleton group keeps its one doc (pct = 1) instead
    * of a rare source being silently erased.
    *
    * Scale: one rank window keyed by group. Like [[stratifiedSplit]],
    * a giant group serializes its window partition; the 100 TB swap
    * is the per-group approx-quantile score threshold (|groups| cut
    * rows, no window) at ±sketch-error keep rates —
    * [[quantileGateApprox]] IS that path. */
  def quantileGate(df: DataFrame, scoreCol: String,
                   keepFrac: Double = 0.5, groupCol: String = "source",
                   idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    df.select(col(idCol), col(groupCol), col(scoreCol))
      .withColumn("pct", round(cume_dist().over(w), 6))
      .withColumn("keep", col("pct") > lit(1.0 - keepFrac))
  }

  /** Leakage-FREE split — the fix for what the split-leakage audit
    * measures: a content-hash split draws independent hashes for
    * near-duplicate docs, so paraphrases of one document land on
    * both sides of the train/eval boundary. Here every doc inherits
    * its near-dup COMPONENT's split (md5 bucket of the component
    * representative's id; docs with no near-dup edges are their own
    * singleton component), so by construction no near-dup pair can
    * ever straddle a boundary. `components` is the `(id, component)`
    * labeling from [[graft.llm.Dedup.connectedComponents]] (min-id
    * representative). Output `(idCol, component, split)`.
    *
    * Scale: one hash-keyed left join against the component table
    * (edge-bounded — docs without near-dup edges never enter it)
    * plus a row-local hash; the expensive part is the pair/component
    * chain the pipeline already pays for dedup, memoized across
    * stages. */
  def leakageFreeSplit(docs: DataFrame, components: DataFrame,
                       weights: Seq[(String, Int)] =
                         Seq("train" -> 80, "val" -> 10, "test" -> 10),
                       idCol: String = "doc_id"): DataFrame = {
    val comp = docs.select(col(idCol))
      .join(components.select(col("id").as(idCol), col("component")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
    comp.select(col(idCol), col("component"),
      splitColumn(col("component").cast("string"), weights).as("split"))
  }

  /** The 100 TB form of [[stratifiedSplit]], accuracy PROVEN rather
    * than documented (the [[graft.llm.Similarity.protoPruneApprox]]
    * device): instead of the per-source rank window — whose sort
    * serializes on one partition when a source dominates — each
    * source takes TWO approx-quantile cuts of the deterministic md5
    * hash (`approx_percentile(h, testFrac)` and
    * `approx_percentile(h, testFrac+valFrac)` — mergeable sketches,
    * map-side combined, |sources| output rows, broadcast back) and a
    * doc lands in test/val/train by comparing ITS hash to the cuts.
    * Emits one row per source: `(source, n, test_target, val_target,
    * within_band)` where the targets are the exact rule's
    * `floor(n·frac)` counts and `within_band` checks BOTH approx
    * split sizes land within `max(2, tolFrac·n)` of them. The
    * sketch-dependent counts themselves are NOT emitted — the
    * verdict is the contract, so an oracle engine checks its OWN
    * quantile sketch the same way (the llm_len_approx device).
    *
    * Scale shape: one narrow (id, source) scan feeding a map-side-
    * combined sketch aggregate, then a broadcast-back join — nothing
    * corpus-sized is ever sorted, no window anywhere in the plan. */
  def stratifiedSplitApprox(docs: DataFrame, valFrac: Double = 0.1,
                            testFrac: Double = 0.1,
                            tolFrac: Double = 0.05,
                            sourceCol: String = "source",
                            idCol: String = "doc_id"): DataFrame = {
    require(valFrac > 0 && testFrac > 0 && valFrac + testFrac < 1,
      s"bad fracs: val=$valFrac test=$testFrac")
    val base = docs.select(col(sourceCol).as("source"),
      hashBucket32(col(idCol).cast("string")).cast("double").as("_h"))
    val cuts = base.groupBy(col("source"))
      .agg(expr(s"approx_percentile(_h, ${testFrac}D, 10000)")
          .as("_ct"),
        expr(s"approx_percentile(_h, ${testFrac + valFrac}D, 10000)")
          .as("_cv"))
    val band = greatest(lit(2.0), col("n").cast("double") * lit(tolFrac))
    base.join(broadcast(cuts), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_h") <= col("_ct"), 1L).otherwise(0L)).as("_at"),
        sum(when(col("_h") > col("_ct") && col("_h") <= col("_cv"), 1L)
          .otherwise(0L)).as("_av"))
      .select(col("source"), col("n"),
        floor(col("n") * lit(testFrac)).as("test_target"),
        floor(col("n") * lit(valFrac)).as("val_target"),
        (abs(col("_at") - floor(col("n") * lit(testFrac)))
           .cast("double") <= band &&
         abs(col("_av") - floor(col("n") * lit(valFrac)))
           .cast("double") <= band).cast("int").as("within_band"))
  }

  /** The 100 TB form of [[quantileGate]], accuracy PROVEN rather
    * than documented: the per-group cume_dist window (a giant group
    * serializes its sort) is replaced by a per-group approx-quantile
    * score threshold (`approx_percentile(score, 1-keepFrac)` —
    * |groups| cut rows, broadcast back) keeping `score >= cut`.
    * Emits one row per group: `(group, n, keep_target, within_band)`
    * where `keep_target = n - floor(n·(1-keepFrac))` is the exact
    * gate's keep count (cume_dist over a strict total order keeps
    * row positions `> n·(1-keepFrac)`) and `within_band` checks the
    * approx keep count lands within `max(2, tolFrac·n)` of it. Score
    * TIES widen the approx count (every tied row crosses the cut
    * together) — that mass is part of what the band absorbs; the
    * sketch-dependent count itself is NOT emitted, so an oracle
    * engine checks its OWN sketch (the llm_len_approx device).
    *
    * Scale shape: narrow (id, group, score) scan, one map-side-
    * combined sketch aggregate, broadcast-back join, count — no
    * window, nothing corpus-sized sorted. */
  def quantileGateApprox(df: DataFrame, scoreCol: String,
                         keepFrac: Double = 0.5, tolFrac: Double = 0.1,
                         groupCol: String = "source"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac < 1.0, s"keepFrac $keepFrac")
    val base = df.select(col(groupCol).as("grp"),
      col(scoreCol).cast("double").as("_s"))
    val cuts = base.groupBy(col("grp"))
      .agg(expr(s"approx_percentile(_s, ${1.0 - keepFrac}D, 10000)")
        .as("_cut"))
    base.join(broadcast(cuts), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_s") >= col("_cut"), 1L).otherwise(0L)).as("_ak"))
      .select(col("grp").as(groupCol), col("n"),
        (col("n") - floor(col("n") * lit(1.0 - keepFrac)))
          .as("keep_target"),
        (abs(col("_ak") -
            (col("n") - floor(col("n") * lit(1.0 - keepFrac))))
           .cast("double") <=
         greatest(lit(2.0), col("n").cast("double") * lit(tolFrac)))
          .cast("int").as("within_band"))
  }
}
