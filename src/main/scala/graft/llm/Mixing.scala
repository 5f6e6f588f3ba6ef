package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixture operators: assemble a training mix from a corpus under
  * per-stratum (language/domain/source) token budgets and quality
  * ranks.
  *
  * Determinism: documents are ordered inside each stratum by CONTENT
  * hash (then id), so the selected mix is a pure function of the
  * corpus + budgets — reproducible across runs and re-partitioning,
  * and unbiased w.r.t. ingestion order (hash order is an implicit
  * shuffle).
  *
  * Scale: [[tokenBudgetSample]] runs BUCKETED — per-(stratum, hash
  * bucket) token pre-aggregation (one map-side-combined shuffle of at
  * most |strata| * nBuckets rows), a driver prefix pick over those
  * totals, then a filter keeping whole buckets before the cutoff and a
  * window over ONLY the single cutoff bucket per stratum (~1/nBuckets
  * of the stratum). A dominant stratum (billions of docs in one
  * language) never becomes a single-partition sort. The direct
  * one-window-per-stratum form is kept as
  * [[tokenBudgetSampleWindowed]] (the semantic reference — both paths
  * are provably identical because bucket index is monotone in the
  * ordering hash; LlmSpec asserts equivalence).
  */
object Mixing {

  /** Per-document token count from the one-pass text_stats kernel.
    * NULL content counts as 0 tokens (not NULL): the bucketed plans
    * drive driver-side prefix walks off `collect()`ed sums, and a NULL
    * leaking into those would crash the primitive getters. */
  private def tokenCount(textCol: String): Column =
    coalesce(TextAnalysis.textStats(col(textCol)).getField("n_tokens"),
      lit(0))

  /** Keep documents per stratum, in content-hash order, until the
    * stratum's token budget is reached (inclusive prefix: a document
    * is kept iff the running total THROUGH it fits the budget).
    * Strata absent from `budgets` are dropped.
    *
    * Giant-stratum-safe: delegates to the bucketed plan (see object
    * doc). `nBuckets` trades driver memory (|strata| * nBuckets rows
    * collected) against cutoff-window size (stratum_size / nBuckets
    * rows sorted); the default suits strata up to ~10^9 docs. */
  /** Epoch plan — the UPSAMPLING complement of
    * [[graft.llm.Sampling.mixtureSample]] (which only thins): given
    * target shares `w_s` and a total token budget, each source
    * should contribute `target·w_s` tokens, i.e. be repeated for
    * `epochs_s = target·w_s / tokens_s` effective epochs (>1 =
    * upsample, <1 = subsample within one pass). Reports per source:
    * available tokens, target tokens (floored long), epochs
    * (rounded 6) and the integer repeat count `ceil(epochs)` a
    * loader would use with a final-partial-pass fraction. The
    * datasets-mixture arithmetic every training-run config encodes
    * (shares × budget → per-source epochs), as one relation.
    *
    * Scale: one token-count aggregate over the corpus (the only
    * corpus-sized work), then |sources|-row arithmetic. */
  def epochPlan(docs: DataFrame, weights: Map[String, Double],
                targetTokens: Long, textCol: String = "text",
                srcCol: String = "source"): DataFrame = {
    require(weights.nonEmpty, "target mixture must not be empty")
    require(targetTokens > 0, "token budget must be positive")
    val wCol = weights.foldLeft(lit(Double.NaN)) { case (acc, (s, w)) =>
      when(col(srcCol).cast("string") === s, lit(w)).otherwise(acc)
    }
    docs.filter(col(srcCol).cast("string")
        .isin(weights.keys.toSeq: _*))
      .groupBy(col(srcCol))
      .agg(sum(graft.llm.TextAnalysis.tokenCount(col(textCol)))
        .as("tokens_avail"))
      .select(col(srcCol), col("tokens_avail"),
        // explicit floor: engines disagree on double->int cast
        // semantics (truncate vs round), floor is portable
        floor(wCol * lit(targetTokens.toDouble)).cast("long")
          .as("tokens_target"))
      .withColumn("epochs",
        round(col("tokens_target").cast("double") /
          col("tokens_avail").cast("double"), 6))
      .withColumn("n_repeats", ceil(col("epochs")).cast("long"))
  }

  /** (ord, shard) columns for the deterministic shuffle family:
    * `ord` = 32-bit family hash of `"shuf:<epoch>:<id>"` (the
    * per-epoch pseudo-random sort key), `shard` = `ord mod nShards`.
    * Shared by [[epochShuffle]] (literal epoch) and
    * [[trainingOrder]] (repeat index as the epoch) so both faces —
    * and their oracles — agree on the permutation formula. */
  private def withShardOrder(df: DataFrame, epochCol: Column,
                             nShards: Int, idCol: String): DataFrame =
    df.withColumn("ord", graft.functions.SketchOps.h32Column(
        concat_ws(":", lit("shuf"), epochCol,
          col(idCol).cast("string"))))
      .withColumn("shard",
        pmod(col("ord"), lit(nShards.toLong)).cast("int"))

  /** Deterministic per-epoch corpus shuffle + shard assignment — the
    * dataloader export: every document gets a pseudo-random sort key
    * `ord` (epoch-salted hash, a DIFFERENT reproducible permutation
    * each epoch) and a `shard` in [0, nShards). A training run with
    * nShards loader workers reads shard s in (ord, id) order;
    * reruns, re-partitioning and engine versions cannot change the
    * order because it is a pure function of (id, epoch).
    *
    * Scale: a narrow projection — NO shuffle here. Materialize with
    * [[epochShuffleWrite]] (range-partitioned sorted shard files) or
    * verify order with a per-shard window (the oracle face). Shard
    * sizes are binomially tight around n/nShards (hash uniformity),
    * so loader skew is negligible at corpus scale. */
  def epochShuffle(docs: DataFrame, epoch: Int, nShards: Int,
                   idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    withShardOrder(docs, lit(epoch).cast("string"), nShards, idCol)
  }

  /** Materialize an [[epochShuffle]]/[[trainingOrder]] frame as
    * sorted shard files: range-partition by (shard, ord, id) into
    * `nShards · filesPerShard` tasks and write
    * `shard=<s>/part-…` parquet — each file holds a CONTIGUOUS ord
    * range of one shard, sorted, and part numbers within a shard dir
    * increase with the range, so a loader streaming a shard's files
    * in name order replays the exact epoch permutation without any
    * global sort. `filesPerShard` right-sizes tasks: at 100 TB pick
    * corpus_bytes / (nShards · ~512 MB). */
  def epochShuffleWrite(shuffled: DataFrame, nShards: Int,
                        outDir: String, filesPerShard: Int = 1,
                        idCol: String = "doc_id",
                        orderCols: Seq[String] = Seq("ord")): Unit = {
    require(filesPerShard > 0, "filesPerShard must be positive")
    // a band-major curriculum layout passes orderCols = (band, ord):
    // the same contiguous-range file property then holds for the
    // composite key (the manifest's ord-range contract is specific
    // to the default ord-only order)
    val keys = col("shard") +: orderCols.map(col) :+ col(idCol)
    shuffled
      .repartitionByRange(nShards * filesPerShard, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Materialize an [[epochPlan]]: emit each document once per full
    * epoch (`repeat_idx` in [0, floor(epochs))) plus a FRACTIONAL
    * final pass — repeat `floor(epochs)` keeps a document iff its
    * deterministic uniform `u = h32("tail:<id>:<repeat>")/2^32` is
    * below the fractional part, so every source lands its
    * `epochs_s = target·w_s / tokens_s` budget in expectation with
    * doc-level granularity, reproducibly (same corpus + weights ⇒
    * the same multiset, independent of partitioning).
    *
    * Scale: the plan is |sources| rows broadcast onto the corpus;
    * the explode emits ceil(epochs) rows per doc — exactly the
    * upsampled training volume, nothing more; no shuffle beyond the
    * plan's own token-count aggregate. */
  def epochRepeats(docs: DataFrame, weights: Map[String, Double],
                   targetTokens: Long, textCol: String = "text",
                   srcCol: String = "source",
                   idCol: String = "doc_id"): DataFrame = {
    val plan = epochPlan(docs, weights, targetTokens, textCol, srcCol)
      .select(col(srcCol).cast("string").as("_src"), col("epochs"),
        col("n_repeats"))
      .filter(col("n_repeats") >= 1L)
    val u = graft.functions.SketchOps.h32Column(
        concat_ws(":", lit("tail"), col(idCol).cast("string"),
          col("repeat_idx").cast("string")))
      .cast("double") / lit(4294967296.0)
    docs.join(broadcast(plan), col(srcCol).cast("string") === col("_src"))
      .withColumn("repeat_idx",
        explode(sequence(lit(0L), col("n_repeats") - 1L)))
      .filter(col("repeat_idx") < floor(col("epochs")).cast("long") ||
        u < (col("epochs") - floor(col("epochs"))))
      .drop("_src", "epochs", "n_repeats")
  }

  /** Curriculum-banded export order: [[epochShuffle]] with a quality
    * BAND as the leading sort key — a loader serving (band, ord, id)
    * ascending feeds band 0 first, so training consumes the corpus
    * easiest/highest-quality-first (or any staged schedule the
    * thresholds encode) while staying pseudo-random WITHIN a band.
    * `band` = how many ascending `thresholds` the score clears,
    * inverted when `highFirst` (a score above every threshold lands
    * band 0) — a literal CASE fold, no quantile pass, so the banding
    * replays exactly in any engine; derive thresholds once from
    * `approx_percentile` when you want quantile bands at 100 TB (the
    * documented sketch swap). A NULL score clears no threshold
    * (treated as -∞: last band under `highFirst`, band 0 when the
    * caller asked for lowest-first). Narrow like [[epochShuffle]]; write
    * band-major with [[epochShuffleWrite]]`(orderCols = Seq("band",
    * "ord"))`. */
  def curriculumOrder(docs: DataFrame, score: Column,
                      thresholds: Seq[Double], epoch: Int,
                      nShards: Int, idCol: String = "doc_id",
                      highFirst: Boolean = true): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      "thresholds must be ascending and non-empty")
    val cleared = thresholds.map(t =>
      when(score > lit(t), 1).otherwise(0)).reduce(_ + _)
    val band = if (highFirst) lit(thresholds.size) - cleared
               else cleared
    epochShuffle(docs, epoch, nShards, idCol)
      .withColumn("band", band)
  }

  /** The read contract for an [[epochShuffleWrite]] layout: per
    * (shard, file) — row count and the [min_ord, max_ord] range it
    * covers, ordered. A loader (or an auditor) checks the two
    * invariants a sorted-shard layout promises: ranges within a
    * shard are non-overlapping (adjacent files may TOUCH at one ord
    * value when two rows collide in the 32-bit hash and the range
    * boundary splits them — certain at corpus scale, ties broken by
    * id inside the files), and file-name order == range order, so
    * streaming a shard's files by name replays the permutation.
    * One column-pruned pass over (shard, ord) + file provenance —
    * metadata-cheap next to the export itself. The result is also
    * published under `outDir/_manifest` (underscore dir: invisible
    * to the layout's own parquet discovery). */
  def shardManifest(spark: org.apache.spark.sql.SparkSession,
                    outDir: String): DataFrame = {
    val m = graft.Writes.readParquet(spark, outDir)
      .select(col("shard"),
        // provenance must be read BEFORE any caching can canonicalize
        // the scan (input_file_name over InMemoryRelation is empty)
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
        col("ord"))
      .groupBy(col("shard"), col("file"))
      .agg(count(lit(1)).as("n_rows"), min(col("ord")).as("min_ord"),
        max(col("ord")).as("max_ord"))
      .orderBy("shard", "min_ord")
    m.write.mode("overwrite").parquet(s"$outDir/_manifest")
    graft.Writes.readParquet(spark, s"$outDir/_manifest").orderBy("shard", "min_ord")
  }

  /** The full training-data order export: [[epochRepeats]] realizes
    * the mixture's upsampling (repeat_idx = which pass), then each
    * emitted instance is shuffled and sharded with the repeat index
    * as its epoch salt — so every pass over a document lands at an
    * independent position/shard and each shard sees the target
    * mixture. The one relation a dataloader needs: (doc, repeat_idx,
    * shard, ord); write with [[epochShuffleWrite]]. */
  def trainingOrder(docs: DataFrame, weights: Map[String, Double],
                    targetTokens: Long, nShards: Int,
                    textCol: String = "text",
                    srcCol: String = "source",
                    idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    withShardOrder(
      epochRepeats(docs, weights, targetTokens, textCol, srcCol, idCol),
      col("repeat_idx").cast("string"), nShards, idCol)
  }

  def tokenBudgetSample(docs: DataFrame, budgets: Map[String, Long],
                        strataCol: String = "lang",
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        nBuckets: Int = 4096): DataFrame = {
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two (bucket = top bits of the hash)")
    require(budgets.nonEmpty, "budgets must be non-empty")
    // bucket = top log2(nBuckets) bits of the 32-bit ordering hash —
    // MONOTONE in the hash, so buckets are contiguous ranges of the
    // (hash, id) order and a bucket prefix IS an order prefix
    val shift = 32 - Integer.numberOfTrailingZeros(nBuckets)
    // NULL content hashes to NULL -> bucket 0 (coalesce): consistent
    // with the window's nulls-first hash order, since bucket 0 is the
    // lowest bucket — NULL rows stay a contiguous prefix of it. The
    // driver walk would otherwise NPE on a NULL group key.
    def bucketOf: Column =
      coalesce(shiftright(Sampling.hashBucket32(col(textCol)), shift),
        lit(0L))
    // 1. per-(stratum, bucket) token totals; the groupBy combines
    // map-side so the shuffle carries <= |strata| * nBuckets rows
    val totals = docs
      .filter(col(strataCol).isin(budgets.keys.toSeq: _*))
      .groupBy(col(strataCol).as("_s"), bucketOf.as("_b"))
      .agg(sum(tokenCount(textCol)).as("_t"))
      .collect()
    // 2. driver prefix pick: per stratum, walk buckets in hash order;
    // buckets strictly before the cutoff are kept whole, the cutoff
    // bucket gets the remaining budget, later buckets are dropped
    val picks: Map[String, (Long, Long)] = totals
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (s, rows) =>
        val budget = budgets(s)
        var cum = 0L
        var cut = Long.MaxValue   // no cutoff: whole stratum fits
        var rem = 0L
        rows.sortBy(_._2).foreach { case (_, b, t) =>
          if (cut == Long.MaxValue) {
            if (cum + t > budget) { cut = b; rem = budget - cum }
            else cum += t
          }
        }
        s -> (cut, rem)
      }
    val cutLit = typedLit(picks.map { case (s, (c, _)) => s -> c })
    val remLit = typedLit(picks.map { case (s, (_, r)) => s -> r })
    val base = docs
      .withColumn("_cut", element_at(cutLit, col(strataCol)))
      .filter(col("_cut").isNotNull)            // strata without budgets drop
      .withColumn("_b", bucketOf)
    val keptWhole = base.filter(col("_b") < col("_cut"))
    // 3. the cutoff bucket: ~1/nBuckets of its stratum, so this window
    // partition is small by construction
    val w = Window.partitionBy(col(strataCol))
      .orderBy(Sampling.hashBucket32(col(textCol)).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptBoundary = base.filter(col("_b") === col("_cut"))
      .withColumn("_cum", sum(tokenCount(textCol)).over(w))
      .filter(col("_cum") <= element_at(remLit, col(strataCol)))
      .drop("_cum")
    keptWhole.unionByName(keptBoundary).drop("_cut", "_b")
  }

  /** The direct form of [[tokenBudgetSample]]: one running-sum window
    * per stratum. Same result (LlmSpec asserts equivalence); one window
    * partition per stratum, so a dominant stratum becomes a
    * single-partition sort — use the bucketed default at scale. */
  private[graft] def tokenBudgetSampleWindowed(
      docs: DataFrame, budgets: Map[String, Long], strataCol: String = "lang",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(Sampling.hashBucket32(col(textCol)).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("_tok", tokenCount(textCol))
      .withColumn("_cum", sum(col("_tok")).over(w))
      .filter(col("_cum") <= element_at(typedLit(budgets), col(strataCol)))
      .drop("_tok", "_cum")
  }

  /** Assign every document a position in a packed training-sequence
    * stream: documents are laid end-to-end in deterministic global
    * (content-hash, id) order and sliced into `seqTokens`-token
    * sequences (concat-then-slice packing — documents may straddle a
    * sequence boundary, the standard LM-pretraining layout). Returns
    * the input plus `n_tokens`, `token_start` (exclusive global
    * running offset), `pack_id` and `pack_offset`.
    *
    * Scale shape mirrors [[tokenBudgetSample]]: per-bucket token
    * totals (one map-side-combined shuffle of `nBuckets` rows), driver
    * cumulative bucket offsets, then a window over each bucket —
    * `nBuckets` independent window partitions of ~N/nBuckets rows, so
    * the global prefix sum never serializes through one partition.
    * [[packSequencesWindowed]] is the single-window semantic reference
    * (LlmSpec asserts equivalence — valid because bucket index is
    * monotone in the ordering hash). */
  def packSequences(docs: DataFrame, seqTokens: Long,
                    textCol: String = "text", idCol: String = "doc_id",
                    nBuckets: Int = 4096): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two (bucket = top bits of the hash)")
    val shift = 32 - Integer.numberOfTrailingZeros(nBuckets)
    // NULL content -> bucket 0, 0 tokens (see tokenBudgetSample): NULL
    // rows sort nulls-first inside the lowest bucket, so the packed
    // order stays total and the driver walk never sees a NULL key
    def bucketOf: Column =
      coalesce(shiftright(Sampling.hashBucket32(col(textCol)), shift),
        lit(0L))
    val bucketTotals = docs
      .groupBy(bucketOf.as("_b"))
      .agg(sum(tokenCount(textCol)).as("_t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    // driver exclusive prefix over bucket totals -> per-bucket offset
    val offsets: Map[Long, Long] = {
      var cum = 0L
      bucketTotals.map { case (b, t) =>
        val o = b -> cum; cum += t; o
      }.toMap
    }
    val offLit = typedLit(offsets)
    val w = Window.partitionBy(col("_b"))
      .orderBy(Sampling.hashBucket32(col(textCol)).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("_b", bucketOf)
      .withColumn("n_tokens", tokenCount(textCol).cast("long"))
      .withColumn("token_start",
        element_at(offLit, col("_b")) +
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", (col("token_start") / seqTokens).cast("long"))
      .withColumn("pack_offset", col("token_start") % seqTokens)
      .drop("_b")
  }

  /** Doc-boundary-PRESERVING sequence packing — the padded mode
    * ([[packSequences]] is the contiguous/splitting mode): a doc
    * never crosses a pack boundary; if it would, its pack is padded
    * out and the doc starts on the next boundary. Oversize docs
    * (`n_tokens > seqTokens`) start on a boundary and occupy their
    * `ceil(n/seq)` packs exclusively. The price of clean attention
    * masks is the padding waste [[packReport]] exposes (its
    * `n_split` is 0 here for non-oversize docs, by construction).
    *
    * Scale shape: the same bucketed layout as [[packSequences]] —
    * docs hash into `nBuckets` buckets, each bucket's sequential
    * first-fit walk runs inside `flatMapGroups` (parallel across
    * buckets, deterministic (hash, id) order), bucket footprints are
    * PADDED to a pack boundary so buckets tile independently, and
    * the |buckets|-sized footprint table prefixes on the driver
    * exactly like the splitting packer's offsets. Same output
    * contract: `(idCol, n_tokens, token_start, pack_id,
    * pack_offset)`. */
  def packPadded(docs: DataFrame, seqTokens: Long,
                 textCol: String = "text", idCol: String = "doc_id",
                 nBuckets: Int = 16): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two")
    val shift = 32 - Integer.numberOfTrailingZeros(nBuckets)
    val spark = docs.sparkSession
    import spark.implicits._
    def ceilB(x: Long): Long =
      ((x + seqTokens - 1) / seqTokens) * seqTokens
    val base = docs.select(
        coalesce(shiftright(Sampling.hashBucket32(col(textCol)), shift),
          lit(0L)).as("_b"),
        col(idCol).cast("long").as("_id"),
        coalesce(Sampling.hashBucket32(col(textCol)), lit(0L))
          .as("_h"),
        coalesce(tokenCount(textCol).cast("long"), lit(0L)).as("_nt"))
      .as[(Long, Long, Long, Long)]
    val placed = base.groupByKey(_._1).flatMapGroups { (b, it) =>
      val ds = it.toArray.sortBy(d => (d._3, d._2))
      var free = 0L
      val rows = ds.map { case (_, id, _, nt) =>
        val start =
          if (nt > seqTokens) ceilB(free)
          else if (free % seqTokens + nt > seqTokens) ceilB(free)
          else free
        free = if (nt > seqTokens) ceilB(start + nt) else start + nt
        (id, nt, start)
      }
      val footprint = ceilB(free)
      rows.iterator.map { case (id, nt, st) =>
        (b, id, nt, st, footprint)
      }
    }.toDF("_b", idCol, "n_tokens", "_local", "_bsize")
    val sizes = placed.select(col("_b"), col("_bsize")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val bases: Map[Long, Long] = {
      var cum = 0L
      sizes.map { case (b, s) => val o = b -> cum; cum += s; o }.toMap
    }
    placed
      .withColumn("token_start",
        element_at(typedLit(bases), col("_b")) + col("_local"))
      .withColumn("pack_id",
        (col("token_start") / seqTokens).cast("long"))
      .withColumn("pack_offset", col("token_start") % seqTokens)
      .select(col(idCol), col("n_tokens"), col("token_start"),
        col("pack_id"), col("pack_offset"))
  }

  /** Packing report over a [[packSequences]] result — the gauge a
    * training-loader config reads: per pack, how many docs START in
    * it, how many of those SPILL over the boundary
    * (`pack_offset + n_tokens > seqTokens` — exactly the docs whose
    * attention mask must handle a cross-pack boundary, the cost of
    * contiguous stream packing), and the token mass starting there.
    * A high split fraction at a given seqTokens argues for a longer
    * sequence or a doc-boundary-aware packer.
    *
    * Scale: one (pack_id)-keyed aggregate over the packed relation —
    * the packing's own bucketed plan already did the heavy work. */
  def packReport(packed: DataFrame, seqTokens: Long): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    packed.groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pack_offset") + col("n_tokens") > seqTokens,
          1L).otherwise(0L)).as("n_split"),
        sum(col("n_tokens")).as("tokens_started"))
  }

  /** The direct form of [[packSequences]]: ONE global running-sum
    * window (single partition — the semantic reference, not the scale
    * path). */
  private[graft] def packSequencesWindowed(
      docs: DataFrame, seqTokens: Long, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window
      .orderBy(Sampling.hashBucket32(col(textCol)).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("n_tokens", tokenCount(textCol).cast("long"))
      .withColumn("token_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", (col("token_start") / seqTokens).cast("long"))
      .withColumn("pack_offset", col("token_start") % seqTokens)
  }

  /** Top-k documents per stratum by a quality key (default: token
    * count, ties to lowest id) — stratified best-of selection. */
  def bestPerStratum(docs: DataFrame, k: Int,
                     strataCol: String = "lang", textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(tokenCount(textCol).desc, col(idCol).asc)
    docs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Corpus-composition report per provenance stratum (source domain,
    * crawl snapshot, …): document count, exact token total, and the
    * stratum's share of all corpus tokens — the table a curation run
    * reads before deciding caps and budgets.
    *
    * Scale: one text_stats kernel pass, one groupBy on the stratum key
    * with map-side partials, and a window over the aggregated frame
    * (rows = #strata, thousands at web scale — negligible). */
  def sourceStats(docs: DataFrame, strataCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val agg = docs
      .select(col(strataCol), tokenCount(textCol).cast("long").as("n_tok"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    agg.withColumn("token_share",
      round(col("total_tokens").cast("double") /
        sum(col("total_tokens")).over(Window.partitionBy()), 6))
  }

  /** Anti-domination cap (the RefinedWeb/CCNet move): keep at most
    * `k` documents per stratum, chosen in content-hash order — a
    * deterministic, reproducible uniform sample of each stratum, NOT
    * "first k by id" (which would bias toward old documents under
    * monotone ids). Ties (hash collisions) break to the lowest id;
    * NULL-content rows sort last and are only kept if the stratum has
    * fewer than `k` hashable documents.
    *
    * Returns the kept rows with their `keep_rank` (1-based position
    * in the stratum's hash order).
    *
    * Scale: one hash projection + one window keyed by the stratum —
    * the same single-shuffle shape as [[bestPerStratum]]; no stratum
    * ever needs more than its own partitionful of memory because
    * row_number is a streaming window function. */
  def capPerStratum(docs: DataFrame, k: Int,
                    strataCol: String = "source", textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(Sampling.hashBucket32(col(textCol)).asc_nulls_last,
        col(idCol).asc)
    docs.withColumn("keep_rank", row_number().over(w).cast("long"))
      .filter(col("keep_rank") <= k)
  }

  /** Sliding-window chunking with overlap — the RAG/embedding-prep
    * shape: each document explodes into windows of `chunkTokens`
    * tokens taken every `chunkTokens - overlap` tokens, so
    * consecutive chunks share `overlap` tokens and no token is ever
    * dropped. Chunk starts are `i * stride` for every `i` with
    * `i * stride < n_tokens`; the final chunk is short when the text
    * runs out. Empty/NULL documents emit no chunks.
    *
    * Returns (idCol, chunk_idx, tok_start, n_tok, chunk_text) with
    * `tok_start` 1-based — the offsets are the contract that lets a
    * retriever map a chunk hit back into the source document.
    *
    * Scale: a pure narrow projection (tokenize once, slice per
    * window) — no shuffle, no UDF; output size is bounded by
    * n_tokens/stride chunks per document regardless of corpus size. */
  def slidingChunks(docs: DataFrame, chunkTokens: Int = 32,
                    overlap: Int = 8, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens $chunkTokens)")
    val stride = chunkTokens - overlap
    val tk = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) > 0)
    tk.select(col(idCol),
        posexplode(transform(
          sequence(lit(0),
            floor((size(col("_tk")) - 1) / stride).cast("int")),
          i => slice(col("_tk"), i * stride + 1, lit(chunkTokens))))
          .as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * stride + 1).cast("long").as("tok_start"),
        size(col("_c")).cast("long").as("n_tok"),
        array_join(col("_c"), " ").as("chunk_text"))
  }

  /** Span-corruption mask PLAN (the T5/SpanBERT pretraining prep,
    * arXiv:1910.10683 §3.1.4): per doc, non-overlapping `spanLen`-
    * token mask spans at stride `spacing`, phase-shifted by a
    * CONTENT-DERIVED offset `r = h32(text) mod spacing` — the
    * deterministic, engine-replayable stand-in for the reference's
    * per-example RNG (swap `r` for a seeded draw at training time;
    * the plan shape is identical). Spans start at positions `r,
    * r+spacing, …` that fit whole; density ≈ spanLen/spacing (0.15
    * at the 3/20 default). Emits `(idCol, n_tokens, n_spans,
    * n_masked, density, first_start)` — pure row-local arithmetic
    * (no arrays, no shuffle): the mask plan at 100 TB is a free
    * column, not a pass. */
  def spanMaskPlan(docs: DataFrame, spacing: Int = 20,
                   spanLen: Int = 3, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(spanLen >= 1 && spacing > spanLen,
      s"need spacing $spacing > spanLen $spanLen >= 1")
    val n = size(TextAnalysis.tokens(col(textCol))).cast("long")
    val r = pmod(graft.functions.SketchOps.h32Column(col(textCol)),
      lit(spacing.toLong))
    val nSpans = when(n - lit(spanLen.toLong) >= r,
      floor((n - lit(spanLen.toLong) - r).cast("double") /
        lit(spacing.toDouble)).cast("long") + 1L).otherwise(0L)
    docs.select(col(idCol), n.as("n_tokens"), nSpans.as("n_spans"),
        (nSpans * spanLen).as("n_masked"), r.as("_r"))
      .select(col(idCol), col("n_tokens"), col("n_spans"),
        col("n_masked"),
        round(when(col("n_tokens") > 0,
          col("n_masked").cast("double") /
            col("n_tokens").cast("double")).otherwise(0.0), 6)
          .as("density"),
        when(col("n_spans") > 0, col("_r")).as("first_start"))
  }

  /** Fill-in-the-middle transform (the FIM pretraining prep,
    * arXiv:2207.14255): a hash-selected `rate` fraction of documents
    * is rewritten `<PRE>prefix<SUF>suffix<MID>middle` (PSM — the
    * model learns to infill `middle` given both sides; `spm = true`
    * emits the paper's SPM variant `<PRE><SUF>suffix<MID>prefix ∘
    * middle`, which trains the joined prefix+middle continuation
    * after the suffix), the rest pass through verbatim — the
    * document-level mix the paper shows preserves left-to-right
    * perplexity while adding infilling.
    *
    * Every random draw is the deterministic hash device: selection
    * is the EXACT-integer comparison `h32("fim:<id>") <
    * floor(rate·2³²)` and the two cut points are `h32("fima:<id>")
    * mod (n+1)` / `h32("fimb:<id>") mod (n+1)` over the CHARACTER
    * length `n` (code points in both engines), lo/hi-ordered — so
    * the transform is a pure function of (id, text), replayable in
    * any engine and immune to reruns/partitioning. Character cuts,
    * not token cuts, are the paper's recommendation (§4 — boundaries
    * inside words force the model to handle subword seams). NULL
    * text passes through unselected. Emits `(idCol, fim_applied,
    * cut_lo, cut_hi, fim_text)` — a NARROW projection: the 100 TB
    * transform is a free column on the export scan, never a pass. */
  def fimTransform(docs: DataFrame, rate: Double = 0.5,
                   textCol: String = "text", idCol: String = "doc_id",
                   preTok: String = "<PRE>", sufTok: String = "<SUF>",
                   midTok: String = "<MID>",
                   spm: Boolean = false): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate must be in [0,1]")
    val thresh = math.floor(rate * 4294967296.0).toLong
    val t = col(textCol)
    val n = length(t).cast("long")
    val id = col(idCol).cast("string")
    val sel = t.isNotNull &&
      graft.functions.SketchOps.h32Column(concat(lit("fim:"), id)) <
        lit(thresh)
    val ca = pmod(
      graft.functions.SketchOps.h32Column(concat(lit("fima:"), id)),
      n + 1L)
    val cb = pmod(
      graft.functions.SketchOps.h32Column(concat(lit("fimb:"), id)),
      n + 1L)
    val lo = least(ca, cb)
    val hi = greatest(ca, cb)
    val prefix = t.substr(lit(1), lo.cast("int"))
    val middle = t.substr((lo + 1L).cast("int"), (hi - lo).cast("int"))
    val suffix = t.substr((hi + 1L).cast("int"), (n - hi).cast("int"))
    val out =
      if (spm) concat(lit(preTok), lit(sufTok), suffix, lit(midTok),
        prefix, middle)
      else concat(lit(preTok), prefix, lit(sufTok), suffix,
        lit(midTok), middle)
    docs.select(col(idCol), sel.as("_sel"), lo.as("_lo"), hi.as("_hi"),
        t.as("_t"), out.as("_out"))
      .select(col(idCol), col("_sel").as("fim_applied"),
        when(col("_sel"), col("_lo")).as("cut_lo"),
        when(col("_sel"), col("_hi")).as("cut_hi"),
        when(col("_sel"), col("_out")).otherwise(col("_t"))
          .as("fim_text"))
  }
}
