package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequent-item (heavy-hitter) extraction at corpus scale.
  *
  * Exact top-frequency queries need the full token histogram; at
  * 100 TB the vocabulary (URLs, ids, typos) can itself be huge. The
  * classic answer is a two-pass sketch-then-verify:
  *
  *  1. a Misra-Gries summary (Misra & Gries 1982, "Finding repeated
  *     elements") with `m` counters over the token stream — mergeable
  *     across partitions with additive error (Agarwal et al. 2013,
  *     "Mergeable summaries"), so it runs as ONE distributed
  *     aggregation whose state is ≤ m entries per partition. Every
  *     item with true count > n/(m+1) is guaranteed present in the
  *     summary (decrements charge ≤ n/(m+1) per item);
  *  2. an exact count of the ≤ m candidates only (a broadcast-size
  *     IN-filter on the same stream), keeping items with
  *     `count * k > n`.
  *
  * The final output is therefore EXACT — precisely the tokens with
  * frequency above n/k — and independent of partitioning and merge
  * order, which is what makes it oracle-replayable even though the
  * intermediate sketch is not.
  */
object HeavyHitters {

  /** (counters capped at m entries, exact element total). */
  type MGBuf = (mutable.HashMap[String, Long], Long)

  /** Mergeable Misra-Gries aggregator. Runs as an object-hash
    * aggregate: one live buffer per partition, serialized (kryo) only
    * at the final merge — the token stream itself never leaves the
    * executors. */
  class MisraGriesAgg(m: Int)
      extends Aggregator[String, MGBuf, (Map[String, Long], Long)] {
    def zero: MGBuf = (mutable.HashMap.empty, 0L)

    def reduce(b: MGBuf, t: String): MGBuf = {
      val cs = b._1
      cs.get(t) match {
        case Some(c)             => cs(t) = c + 1
        case None if cs.size < m => cs(t) = 1L
        case None => // decrement-all step; the new item is absorbed
          cs.mapValuesInPlace((_, c) => c - 1)
          cs.filterInPlace((_, c) => c > 0)
      }
      (cs, b._2 + 1)
    }

    def merge(a: MGBuf, b: MGBuf): MGBuf = {
      val ca = a._1
      for ((t, c) <- b._1) ca(t) = ca.getOrElse(t, 0L) + c
      if (ca.size > m) {
        // subtract the (m+1)-th largest counter from all, drop <= 0:
        // the mergeable-summaries reduction, error stays additive
        val cut = ca.values.toIndexedSeq
          .sorted(Ordering[Long].reverse).apply(m)
        ca.mapValuesInPlace((_, c) => c - cut)
        ca.filterInPlace((_, c) => c > 0)
      }
      (ca, a._2 + b._2)
    }

    def finish(b: MGBuf): (Map[String, Long], Long) = (b._1.toMap, b._2)
    def bufferEncoder: Encoder[MGBuf] = Encoders.kryo[MGBuf]
    def outputEncoder: Encoder[(Map[String, Long], Long)] =
      Encoders.kryo[(Map[String, Long], Long)]
  }

  /** Misra-Gries summary + exact total over the first column of
    * `tokens`, in one distributed pass. The result is driver-sized by
    * construction (≤ m candidate entries); counter values are the
    * usual MG undercounts, NOT exact frequencies. */
  private[graft] def summarize(tokens: DataFrame, m: Int)
      : (Map[String, Long], Long) = {
    val s = tokens.sparkSession
    import s.implicits._
    tokens.select(col(tokens.columns.head).cast("string")).as[String]
      .select(new MisraGriesAgg(m).toColumn)
      .head()
  }

  /** SQL-typed MG result: candidate counters + exact element total —
    * a struct<counters: map, n: bigint> column, consumable without
    * deserializing driver objects. */
  case class MGResult(counters: Map[String, Long], n: Long)

  /** [[MisraGriesAgg]] with a SQL-typed output, for use as a udaf
    * inside (streaming or batch) window aggregates. */
  class MisraGriesUdaf(m: Int)
      extends Aggregator[String, MGBuf, MGResult] {
    private val inner = new MisraGriesAgg(m)
    def zero: MGBuf = inner.zero
    def reduce(b: MGBuf, t: String): MGBuf = inner.reduce(b, t)
    def merge(a: MGBuf, b: MGBuf): MGBuf = inner.merge(a, b)
    def finish(b: MGBuf): MGResult = {
      val (c, n) = inner.finish(b)
      MGResult(c, n)
    }
    def bufferEncoder: Encoder[MGBuf] = inner.bufferEncoder
    def outputEncoder: Encoder[MGResult] = Encoders.product[MGResult]
  }

  /** Event-time windowed frequent-item candidates: one MG summary per
    * tumbling window over an unbounded stream —
    * `(window_start, counters, n)` with the batch guarantees holding
    * PER WINDOW (superset above n_w/(m+1), exact n_w). Streaming
    * state is m counters per open window, dropped at the watermark;
    * the usual exact-verify pass applies to whichever windows'
    * candidates matter downstream. Works identically on a batch frame
    * (same plan, no watermark semantics). */
  def windowedCandidates(events: DataFrame, tsCol: String,
                         tokenCol: String, windowDur: String, m: Int,
                         watermark: String = "2 hours"): DataFrame = {
    val mg = udaf(new MisraGriesUdaf(m), Encoders.STRING)
    val in =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    in.groupBy(window(col(tsCol), windowDur))
      .agg(mg(col(tokenCol)).as("mg"))
      .select(col("window.start").as("window_start"),
        col("mg.counters").as("counters"), col("mg.n").as("n"))
  }

  /** Tokens with frequency strictly above n/k (n = total token
    * instances), with exact counts: `(rank, token, n_occurrences)`.
    *
    * `counters` sizes the MG sketch (default 2k; any value ≥ k − 1
    * preserves the superset guarantee, more counters = fewer false
    * candidates for the verify pass). Calling this runs the pass-1
    * summary job eagerly — inherent to sketch-then-verify, same
    * train-once shape as [[Similarity]]'s centroid registry. */
  def heavyHitters(docs: DataFrame, k: Int, counters: Int = 0,
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = if (counters > 0) counters else 2 * k
    require(m >= k - 1,
      s"$m counters cannot guarantee the n/$k superset (need >= ${k - 1})")
    val toks = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val (cand, n) = summarize(toks, m)
    // candidate restriction: a small set inlines as an isin literal
    // (codegen'd, no extra stage); a large m would bloat the plan and
    // re-codegen per call, so it becomes a broadcast semi-join against
    // a local relation instead — same rows either way
    val spark = docs.sparkSession
    val matched =
      if (cand.size <= 128)
        toks.filter(col("token").isin(cand.keys.toSeq: _*))
      else {
        import spark.implicits._
        toks.join(
          broadcast(cand.keys.toSeq.toDF("token")), Seq("token"),
          "left_semi")
      }
    matched
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * k > lit(n))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("n_occurrences").desc, col("token").asc)).cast("long"))
      .select(col("rank"), col("token"), col("n_occurrences"))
  }

  // ---------------------------------------------------------------
  // Count-min sketch (Cormode & Muthukrishnan 2005, "An improved data
  // stream summary: the count-min sketch and its applications").
  // ---------------------------------------------------------------

  /** Family-aware 32-bit base hash — see
    * [[graft.functions.SketchOps.h32Column]]. */
  private def h32Col(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.functions.SketchOps.h32Column(c)

  /** Build a `depth x width` count-min sketch over an item column:
    * one counter row per `(row, bucket)` cell, `bucket_i(x) =
    * ((a_i·h32(x) + b_i) mod P) mod width` with the seeded affine
    * family [[graft.functions.SketchOps.coeffs]] (a·x+b stays inside
    * signed 64-bit for x < 2^32).
    *
    * Scale: THE fixed-state frequency summary — the aggregate has at
    * most `depth·width` distinct keys, so map-side partial
    * aggregation collapses every partition's token stream to ≤ d·w
    * rows before the (one) shuffle, and the sketch's size is
    * independent of both corpus and vocabulary size. Point estimates
    * via [[cmsLookup]] overestimate by ≤ εN (ε = e/width) with
    * probability 1-δ (δ = e^-depth) and NEVER underestimate. The
    * base hash is computed once per instance (buckets derive from the
    * carried `_h32` after the row explode — the d affine maps never
    * re-hash). */
  def cmsSketch(items: DataFrame, itemCol: String = "token",
                depth: Int = 4, width: Int = 16, seed: Long = 7L)
      : DataFrame = {
    val bucketed = cmsBucketed(items, itemCol, depth, width, seed)
    bucketed.groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-instance `(item, row, bucket)` expansion shared by sketch
    * build and lookup: hash once, explode the d row indices, index
    * the affine coefficient literals by row. */
  private def cmsBucketed(items: DataFrame, itemCol: String,
                          depth: Int, width: Int, seed: Long)
      : DataFrame = {
    val (as, bs) = graft.functions.SketchOps.coeffs(depth, seed)
    val aArr = array(as.map(lit(_)): _*)
    val bArr = array(bs.map(lit(_)): _*)
    items.select(col(itemCol), h32Col(col(itemCol)).as("_h32"))
      .select(col(itemCol), col("_h32"),
        explode(array((0 until depth).map(i => lit(i)): _*)).as("row"))
      .select(col(itemCol), col("row"),
        pmod(pmod(element_at(aArr, col("row") + 1) * col("_h32") +
            element_at(bArr, col("row") + 1),
          lit(graft.functions.SketchOps.P)), lit(width.toLong))
          .as("bucket"))
  }

  /** Point-estimate item frequencies from a [[cmsSketch]]: for each
    * distinct probe item, `min_i sketch[i][bucket_i(item)]` (missing
    * cells count 0 — an unseen item estimates its collision mass).
    * Output `(item, cms_est)`.
    *
    * GEOMETRY GUARD: the probe geometry `(depth, width)` must match
    * what the sketch was built with — probing a wider/deeper sketch
    * with default parameters silently UNDERestimates (cells land out
    * of probe range and read as 0), breaking the one-sided-error
    * guarantee the trending detector relies on. The sketch side is
    * ≤ d·w rows by construction, so the bounds check (max row <
    * depth, max bucket < width) is one tiny eager job. The converse
    * (sketch narrower than probed) is caught by the layer's
    * geometry sidecar ([[graft.streaming.IngestStream.cmsBatch]]
    * publishes `(depth, width, seed)` next to the cells;
    * `cmsLayerGeometry` reads it back so callers re-derive instead
    * of re-passing). */
  private[graft] def cmsLookup(sketch: DataFrame, probes: DataFrame,
                               itemCol: String = "token",
                               depth: Int = 4, width: Int = 16, seed: Long = 7L)
      : DataFrame = {
    val geo = sketch.agg(max(col("row")).cast("long"),
      max(col("bucket")).cast("long")).first()
    if (!geo.isNullAt(0)) {
      val (mr, mb) = (geo.getLong(0), geo.getLong(1))
      // every inserted item increments a cell in EVERY row, so a
      // non-empty sketch's true depth is exactly max(row)+1 — an
      // exact check. Width is only one-sided from the cells (buckets
      // are sparse); the sidecar closes that gap.
      require(mr == depth - 1 && mb < width,
        s"CMS geometry mismatch: sketch holds rows 0..$mr / max " +
          s"bucket $mb but the probe assumes depth=$depth " +
          s"width=$width — the sketch was built with a different " +
          "geometry (read it from the layer's _geometry.json via " +
          "cmsLayerGeometry)")
    }
    cmsBucketed(probes, itemCol, depth, width, seed)
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Trending-term detection against a standing [[cmsSketch]] layer:
    * a token trends when its IN-BATCH exact count is at least
    * `minRatio` times its HISTORICAL frequency estimate (and at
    * least `minCount` — new-token noise floor). Because count-min
    * only OVER-estimates history, every reported ratio is a lower
    * bound: the sketch can suppress a real trend near the threshold
    * but never fabricates one — the right bias for an alerting
    * gauge. Output `(token, batch_cnt, hist_est, ratio)`.
    *
    * Scale: the batch aggregate is batch-sized, the sketch
    * broadcasts (≤ d·w rows), history itself is never rescanned —
    * the standing history is an `IngestStream.cmsBatch` layer read
    * through `IngestStream.cmsLayerRead`. */
  private[graft] def trendingTokens(
      batchItems: DataFrame, sketch: DataFrame, itemCol: String = "token",
      minCount: Long = 2L, minRatio: Double = 2.0, depth: Int = 4,
      width: Int = 16, seed: Long = 7L)
      : DataFrame =
    trendingFromCounts(
        batchItems.groupBy(col(itemCol))
          .agg(count(lit(1)).as("batch_cnt")),
        sketch, itemCol, minCount, minRatio, depth, width, seed)
      .select(col(itemCol), col("batch_cnt"), col("hist_est"),
        col("ratio"))

  /** The trending arithmetic over PRE-AGGREGATED counts: join each
    * `(…, itemCol, batch_cnt)` row to its [[cmsLookup]] history
    * estimate and keep the rows whose exact count is both ≥ `minCount`
    * and ≥ `minRatio`× the estimate. Extra columns (e.g. a window
    * start) ride through untouched — this is the kernel of
    * [[trendingTokens]], and over a windowed aggregate
    * (`(window_start, itemCol, batch_cnt)`) it serves the sketch
    * geometries too wide for [[windowedTrending]]'s plan literal: it
    * broadcast-joins the sketch instead of inlining it. */
  def trendingFromCounts(counts: DataFrame, sketch: DataFrame,
                         itemCol: String = "token", minCount: Long = 2L,
                         minRatio: Double = 2.0, depth: Int = 4,
                         width: Int = 16, seed: Long = 7L): DataFrame =
    counts.join(cmsLookup(sketch, counts.select(col(itemCol)), itemCol,
        depth, width, seed).withColumnRenamed("cms_est", "hist_est"),
        Seq(itemCol))
      .withColumn("ratio", round(col("batch_cnt").cast("double") /
        greatest(col("hist_est"), lit(1L)).cast("double"), 6))
      .filter(col("batch_cnt") >= minCount &&
        col("ratio") >= minRatio)

  /** Event-time windowed [[trendingTokens]]: per TUMBLING WINDOW,
    * a token trends when its exact in-window count is at least
    * `minRatio` times its historical count-min estimate (and at
    * least `minCount`). Output
    * `(window_start, item, batch_cnt, hist_est, ratio)` — burst
    * detection with real event-time semantics: a token bursting at
    * 14:00 is flagged in the 14:00 window even when its events
    * arrive late, and a steady token never trends in any window.
    *
    * STREAMING-SAFE BY CONSTRUCTION: the standing sketch is ≤ d·w
    * cells, so it inlines as a PLAN LITERAL (one width-array per
    * row, indexed by the probe's affine bucket) — the history
    * lookup is a pure scalar expression after the one windowed
    * aggregation. No second stateful operator, no stream-static
    * join: append mode works on any Spark, and state is one count
    * per (open window, token), dropped at the watermark. Works
    * identically on a batch frame (same plan, no watermark).
    *
    * Scale: the d·w literal is the SAME state the batch lookup
    * broadcasts — fixed size, corpus-independent; the windowed
    * count is map-side combined before its one shuffle. Geometry is
    * validated like [[cmsLookup]] (exact depth from the cells, the
    * layer sidecar for width/seed). WIDTH CAP: the literal device
    * is sized for monitoring sketches — `depth·width` is ENFORCED
    * ≤ `maxLiteralCells` (the plan carries one width-array of
    * literals per row regardless of how many cells are non-zero; the
    * default 4×16 costs 64). A wider geometry belongs to
    * [[trendingFromCounts]] over a windowed aggregate: the SAME
    * per-window counts, with the history lookup broadcast-joined
    * instead of inlined. */
  def windowedTrending(events: DataFrame, tsCol: String,
                       itemCol: String, windowDur: String,
                       sketch: DataFrame, minCount: Long = 2L,
                       minRatio: Double = 2.0, depth: Int = 4,
                       width: Int = 16, seed: Long = 7L,
                       watermark: String = "2 hours",
                       maxLiteralCells: Int = 10000): DataFrame = {
    require(depth.toLong * width <= maxLiteralCells,
      s"depth*width = ${depth.toLong * width} > $maxLiteralCells: too " +
        "wide for the plan-literal device (every row inlines a " +
        "width-sized literal array) — use trendingFromCounts over a " +
        "windowed aggregate, which broadcast-joins the sketch instead")
    // SIZE GUARD before the collect: the literal device is only valid
    // for a summed sketch of at most depth*width cells — a raw
    // multi-batch layer (or a wrong frame) would otherwise OOM the
    // driver / explode the plan here. One tiny eager count on what
    // must be sketch-sized state.
    val rawCount = sketch.count()
    require(rawCount <= depth.toLong * width,
      s"sketch frame holds $rawCount cells > depth*width = " +
        s"${depth.toLong * width} — not a summed sketch (an uncompacted " +
        "multi-batch layer read raw? use cmsLayerRead, or " +
        "trendingFromCounts over a windowed aggregate for wide " +
        "geometries)")
    val raw = sketch.select(col("row").cast("int"),
        col("bucket").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
    val cells = raw.toMap
    // duplicate (row,bucket) keys would collapse silently via toMap
    // (keeping an arbitrary batch's value) — fail instead
    require(cells.size == raw.length,
      s"sketch frame holds duplicate (row,bucket) cells " +
        s"(${raw.length} rows, ${cells.size} distinct keys) — an " +
        "unsummed multi-batch layer; read it via cmsLayerRead or " +
        "compact it first")
    if (cells.nonEmpty) {
      val (mr, mb) = (cells.keys.map(_._1).max, cells.keys.map(_._2).max)
      require(mr == depth - 1 && mb < width,
        s"CMS geometry mismatch: sketch holds rows 0..$mr / max " +
          s"bucket $mb but the probe assumes depth=$depth width=$width")
    }
    val (as, bs) = graft.functions.SketchOps.coeffs(depth, seed)
    val in =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    val wc = in.groupBy(window(col(tsCol), windowDur), col(itemCol))
      .agg(count(lit(1)).as("batch_cnt"))
      .select(col("window.start").as("window_start"), col(itemCol),
        col("batch_cnt"), h32Col(col(itemCol)).as("_h32"))
    val rowEsts = (0 until depth).map { i =>
      val bucket = pmod(pmod(lit(as(i)) * col("_h32") + lit(bs(i)),
        lit(graft.functions.SketchOps.P)), lit(width.toLong))
      element_at(
        array((0 until width).map(b =>
          lit(cells.getOrElse((i, b.toLong), 0L))): _*),
        (bucket + 1).cast("int"))
    }
    wc.withColumn("hist_est",
        if (rowEsts.size == 1) rowEsts.head else least(rowEsts: _*))
      .withColumn("ratio", round(col("batch_cnt").cast("double") /
        greatest(col("hist_est"), lit(1L)).cast("double"), 6))
      .filter(col("batch_cnt") >= minCount && col("ratio") >= minRatio)
      .select(col("window_start"), col(itemCol), col("batch_cnt"),
        col("hist_est"), col("ratio"))
  }

  /** [[cmsLookup]] against a persisted CMS LAYER by path: derives
    * `(depth, width, seed)` from the layer's `_geometry.json` sidecar
    * and reads the summed cells via `cmsLayerRead` — the safe path as
    * the easy path. The in-frame geometry guard is one-sided by
    * construction (a wider-than-probed sketch with empty high buckets
    * passes it); deriving from the sidecar closes that gap, so prefer
    * this overload whenever the sketch lives in a layer dir. */
  def cmsLookupLayer(spark: org.apache.spark.sql.SparkSession,
                     sketchDir: String, probes: DataFrame,
                     itemCol: String = "token"): DataFrame = {
    val (depth, width, seed) = requireGeometry(spark, sketchDir)
    cmsLookup(
      graft.streaming.IngestStream.cmsLayerRead(spark, sketchDir),
      probes, itemCol, depth, width, seed)
  }

  /** [[windowedTrending]] against a persisted CMS LAYER by path —
    * geometry from the sidecar, cells via `cmsLayerRead` (summed, so
    * the duplicate-cell guard can't trip on a multi-batch layer). */
  private[graft] def windowedTrendingLayer(
      spark: org.apache.spark.sql.SparkSession, sketchDir: String,
      events: DataFrame, tsCol: String, itemCol: String, windowDur: String,
      minCount: Long = 2L, minRatio: Double = 2.0,
      watermark: String = "2 hours")
      : DataFrame = {
    val (depth, width, seed) = requireGeometry(spark, sketchDir)
    windowedTrending(events, tsCol, itemCol, windowDur,
      graft.streaming.IngestStream.cmsLayerRead(spark, sketchDir),
      minCount, minRatio, depth, width, seed, watermark)
  }

  private def requireGeometry(spark: org.apache.spark.sql.SparkSession,
                              sketchDir: String): (Int, Int, Long) =
    graft.streaming.IngestStream.cmsLayerGeometry(spark, sketchDir)
      .getOrElse(throw new IllegalArgumentException(
        s"$sketchDir has no _geometry.json sidecar — not a published " +
          "CMS layer (cmsBatch writes the sidecar with the first batch)"))

  /** Verification harness: exact counts vs CMS estimates for the
    * `topN` most frequent items (ties to the smaller item), with the
    * per-item overestimate. At deployment scale you keep the sketch
    * INSTEAD of the exact histogram — this harness exists to make the
    * sketch's one-sided error auditable (and oracle-replayable). */
  def cmsCompare(items: DataFrame, itemCol: String = "token",
                 topN: Int = 20, depth: Int = 4, width: Int = 16,
                 seed: Long = 7L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = items.groupBy(col(itemCol))
      .agg(count(lit(1)).as("exact_cnt"))
    val top = exact
      .withColumn("_rk", row_number().over(Window.orderBy(
        col("exact_cnt").desc, col(itemCol).asc)))
      .filter(col("_rk") <= topN)
      .drop("_rk")
    val sk = cmsSketch(items, itemCol, depth, width, seed)
    top.join(cmsLookup(sk, top.select(col(itemCol)), itemCol,
        depth, width, seed), Seq(itemCol))
      .select(col(itemCol), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overestimate"))
  }
}
