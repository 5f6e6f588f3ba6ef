package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find corpus documents sharing word
  * n-grams with an evaluation/benchmark set, so they can be dropped
  * before training.
  *
  * Scale design: shingles are hashed to 60-bit fingerprints scan-side
  * by the native codegen'd [[graft.functions.SketchExprs.ShingleHashes]]
  * kernel (one tokenize+hash pass — the interpreted
  * transform/md5 HOF chain it replaces was ~15x slower), and only
  * `(doc_id, hash)` rides the join. The benchmark side is
  * distinct-collapsed and small by definition (benchmarks are MBs
  * against a 100 TB corpus) — AQE broadcasts it, so the corpus is
  * never shuffled: the plan is scan -> explode ->
  * broadcast-semi-join -> per-doc count.
  */
object Contamination {

  /** 60-bit hashes of the distinct word n-gram shingles of a text
    * column — the fingerprint hash per shingle (family-aware: XXH64 in
    * production, `CAST(('0x' || substring(md5(g),1,15)) AS BIGINT)`
    * under the md5 oracle-verification family). */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.SketchExprs.shingleHashes(text, n)

  /** Documents from `docs` sharing at least one n-gram with any
    * `benchmark` document, with the count of distinct shared shingle
    * hashes (the contamination evidence). */
  def contaminatedDocs(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                       textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    val dSh = docs.select(col(idCol),
      explode(shingleHashes(col(textCol), n)).as("h"))
    val bSh = benchmark
      .select(explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    dSh.join(bSh, Seq("h"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("h")).as("n_shared"))
  }

  /** Per-doc n-gram overlap fraction against the benchmark: the share
    * of the doc's DISTINCT n-gram shingles that appear anywhere in the
    * benchmark, with the `contaminated` verdict at `tau` — the
    * standard eval-overlap gate (drop a doc when more than `tau` of
    * its n-grams are benchmark n-grams); [[contaminatedDocs]] reports
    * the raw evidence counts this normalizes. Clean docs survive with
    * overlap 0; docs too short for any n-gram get overlap 0.
    *
    * Same plan shape as [[contaminatedDocs]] (benchmark
    * distinct-collapsed, AQE-broadcast; the corpus never shuffles its
    * text) plus one narrow shingle-count projection. */
  def overlapFraction(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                      tau: Double = 0.2, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol),
      size(shingleHashes(col(textCol), n)).cast("long").as("n_shingles"))
    val shared = contaminatedDocs(docs, benchmark, n, textCol, idCol)
    base.join(shared, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("overlap_frac",
        when(col("n_shingles") > 0,
          round(col("n_shared").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap_frac") > tau)
  }

  /** Decontaminate: drop contaminated documents from the corpus. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                    textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    docs.join(contaminatedDocs(docs, benchmark, n, textCol, idCol)
      .select(col(idCol)), Seq(idCol), "left_anti")

  // ---------------------------------------------------------------
  // Bloom-filter decontamination — the constant-size scale path
  // ---------------------------------------------------------------

  /** Default bloom geometry: 2^17 bits (16 KiB) x 4 probes. False-
    * positive rate (n benchmark shingles): (n*k/m)^k — at 100k
    * shingles ~0.008; scale `log2m` with the benchmark suite, the
    * corpus-side cost does not change. */
  val BloomLog2M = 17
  val BloomK = 4

  /** Probe windows must fit the 60-bit shingle hash. */
  private def bloomShift(log2m: Int, k: Int): Int = {
    val s = (60 - log2m) / math.max(1, k - 1)
    require(s >= 1 && log2m + (k - 1) * s <= 60,
      s"bloom geometry does not fit 60-bit hashes: log2m=$log2m k=$k")
    s
  }

  /** Build the benchmark bloom filter: a dense `2^log2m`-bit array as
    * 32-bit masks (one per long, so `1 << bit` stays positive and the
    * same arithmetic replays in engines whose BIGINT shifts trap on
    * sign — the oracle-replay constraint).
    *
    * Distributed build: shingle hashes explode to `k` positions,
    * bit-masks OR-combine per word with map-side partial aggregation —
    * the shuffle is at most `2^log2m / 32` rows regardless of
    * benchmark size; only the finished words (16 KiB at the default
    * geometry) are collected. The returned array is the broadcastable
    * artifact: ship it to [[bloomContaminatedDocs]] (plan literal /
    * reference object), or persist it alongside the corpus version. */
  def bloomWords(benchmark: DataFrame, n: Int = 8,
                 log2m: Int = BloomLog2M, k: Int = BloomK,
                 textCol: String = "text"): Array[Long] = {
    val shift = bloomShift(log2m, k)
    val m = 1 << log2m
    val hs = benchmark
      .select(explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    // all k probe positions in ONE pass over the distinct shingles
    // (a k-way union would re-run the distinct aggregate per probe)
    val pos = hs.select(explode(array((0 until k).map { i =>
      shiftright(col("h"), shift * i).bitwiseAND(lit((m - 1).toLong))
    }: _*)).as("p"))
    val rows = pos
      .select(shiftright(col("p"), 5).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").as("mask"))
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bits"))
      .collect()
    val words = new Array[Long](m / 32)
    rows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** Corpus documents whose shingles hit the benchmark bloom filter:
    * `(idCol, n_flagged)` where n_flagged counts the doc's distinct
    * shingle hashes with all `k` bloom bits set (includes bloom false
    * positives — deterministically, so runs and the SQL oracle agree;
    * use [[contaminatedDocs]] when exact evidence counts matter).
    *
    * THE SCALE POINT: the corpus side is a pure scan -> filter — no
    * join, no shuffle, no broadcast of the benchmark's shingle set
    * (which grows with the benchmark; the bloom is 16 KiB at any
    * size). One native kernel pass per doc ([[SketchExprs.BloomHits]]
    * rides the word array as a codegen reference object). */
  def bloomContaminatedDocs(docs: DataFrame, words: Array[Long],
                            n: Int = 8, log2m: Int = BloomLog2M,
                            k: Int = BloomK, textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    val shift = bloomShift(log2m, k)
    docs.select(col(idCol),
        graft.functions.SketchExprs.bloomHits(
          shingleHashes(col(textCol), n), words, k, log2m, shift)
          .as("n_flagged"))
      .filter(col("n_flagged") > 0)
  }

}
