package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four families, in increasing fuzziness:
  *  - exact (hash group-by),
  *  - n-gram Jaccard (exact set similarity — the small-N baseline),
  *  - MinHash + LSH (the 100 TB near-dup path),
  *  - SimHash (bit-sketch near-dup),
  * plus embedding-cosine near-dup (see [[Similarity]] for ANN search).
  *
  * Scale design: every operator is shuffle-bounded by GROUP BY /
  * self-join on short keys (hash, band bucket) — never an O(N²) cross
  * join except the explicitly-labelled brute-force baselines. Signature
  * computation is a shuffle-free narrow projection through the native
  * codegen'd kernels in [[graft.functions.SketchExprs]]; only ids and
  * band hashes ride the candidate shuffles.
  */
object Dedup {

  // ---------------------------------------------------------------
  // exact dedup
  // ---------------------------------------------------------------

  /** Exact duplicate groups by content hash: one row per distinct
    * content with the group's representative (min id) and multiplicity.
    * `xxhash64(text)` group-by: ~64 bits/row shuffled regardless of
    * document size — at 100 TB the shuffle is keys, not text. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Duplicate-aware training weights — the soft alternative to
    * dropping duplicates (down-weighting repeated content instead of
    * deleting it keeps coverage while removing the memorization
    * gradient bias): every doc gets its exact-duplicate group size
    * and `weight = 1/n_copies`, so each distinct content contributes
    * unit total mass to the training mix however often it was
    * crawled. Emits `(idCol, n_copies, weight)` for every doc.
    *
    * Scale: the [[exactGroups]] aggregate keyed on the 64-bit
    * content hash, joined back hash-to-hash — text never shuffles
    * (both sides key on the hash computed scan-side), and the group
    * table is distinct-content-sized. */
  def dupWeights(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val groups = docs
      .groupBy(xxhash64(col(textCol)).as("_h"))
      .agg(count(lit(1)).as("n_copies"))
    docs.select(col(idCol), xxhash64(col(textCol)).as("_h"))
      .join(groups, Seq("_h"))
      .select(col(idCol), col("n_copies"),
        round(lit(1.0) / col("n_copies").cast("double"), 6)
          .as("weight"))
  }

  /** Effective dataset size — the headline accounting table a
    * dataset card quotes: per source, raw docs/tokens vs the
    * EFFECTIVE token count under [[dupWeights]]'s soft dedup
    * (`Σ weight·n_tokens`, unit mass per distinct content, copies
    * charged where they live), plus the savings fraction a hard
    * exact-dedup pass would realize. Dashboards read this before
    * any mixture decision: a source whose effective size is half
    * its raw size is buying its share with copies.
    *
    * Scale shape: [[dupWeights]]'s hash-group + join-back plan plus
    * one token-count aggregate — text never shuffles, the report is
    * |sources| rows; the weighted sum is decimal so the table
    * replays bit-exact. */
  def effectiveSize(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id",
                    srcCol: String = "source"): DataFrame = {
    val nt = docs.select(col(idCol), col(srcCol),
      graft.llm.TextAnalysis.tokenCount(col(textCol)).as("_nt"))
    nt.join(dupWeights(docs, textCol, idCol), Seq(idCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("raw_tokens"),
        round(sum((col("weight") * col("_nt").cast("double"))
          .cast("decimal(38,12)")).cast("double"), 6)
          .as("eff_tokens"))
      .withColumn("savings_frac",
        when(col("raw_tokens") > 0,
          round(lit(1.0) - col("eff_tokens") /
            col("raw_tokens").cast("double"), 6)).otherwise(0.0))
  }

  /** Content-defined chunking (the rsync/LBFS rolling-cut idea at
    * token granularity): a chunk boundary falls AFTER token
    * `p + n - 1` wherever the n-gram starting at `p` hashes to
    * `0 mod div` — boundaries are decided by LOCAL content, so an
    * insertion reshuffles only the chunk it lands in while fixed-
    * size chunking shifts every chunk after it (the property that
    * makes CDC the shift-robust dedup granularity; expected chunk
    * length ≈ `div` tokens). Emits one row per chunk with its
    * 60-bit hex content key and corpus frequency:
    * `(doc_id, chunk_idx, n_tokens, chunk_hash, df)` — `df > 1`
    * marks corpus-repeated content at CDC granularity.
    *
    * Scale shape: boundary selection and chunk construction are
    * ROW-LOCAL array ops over the positional gram-hash kernel
    * (same scan shape as winnowing); only (doc, idx, 15-char hash
    * key, count) rows shuffle — chunk text never leaves the scan
    * except as its hash. The df aggregate is the one shuffle,
    * map-side combined. */
  def cdcChunks(docs: DataFrame, n: Int = 4, div: Int = 16,
                textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    require(div >= 2, s"div $div must be >= 2")
    val base = docs
      .select(col(idCol),
        graft.llm.TextAnalysis.tokens(col(textCol)).as("_tk"),
        graft.functions.SketchExprs.windowHashes(col(textCol), n)
          .as("_hs"))
      .filter(size(col("_tk")) >= 1)
    // interior cuts only (a cut at the last token would duplicate
    // the final boundary): strictly increasing, no dedupe needed
    val cutsAfter = filter(
      transform(
        filter(
          when(size(col("_hs")) >= 1,
            sequence(lit(1), size(col("_hs"))))
            .otherwise(array().cast("array<int>")),
          p => pmod(element_at(col("_hs"), p), lit(div.toLong)) === 0),
        p => p + lit(n - 1)),
      c => c < size(col("_tk")))
    val withB = base.select(col(idCol), col("_tk"),
      concat(array(lit(0)), cutsAfter, array(size(col("_tk"))))
        .as("_b"))
    val chunks = transform(sequence(lit(1), size(col("_b")) - 1),
      j => array_join(
        slice(col("_tk"), element_at(col("_b"), j) + 1,
          element_at(col("_b"), j + 1) - element_at(col("_b"), j)),
        " "))
    val rel = withB
      .select(col(idCol), col("_b"),
        posexplode(chunks).as(Seq("_j", "chunk")))
      .select(col(idCol), (col("_j") + 1).cast("long").as("chunk_idx"),
        (element_at(col("_b"), col("_j") + 2) -
          element_at(col("_b"), col("_j") + 1)).cast("long")
          .as("n_tokens"),
        substring(md5(col("chunk")), 1, 15).as("chunk_hash"))
    val freq = rel.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("df"))
    rel.join(freq, Seq("chunk_hash"))
      .select(col(idCol), col("chunk_idx"), col("n_tokens"),
        col("chunk_hash"), col("df"))
  }

  /** Sparse tf-idf cosine pairs — the lexical-WEIGHTED near-dup
    * lens (docs sharing rare, characteristic vocabulary), completing
    * the family next to set-based MinHash-Jaccard and bit-based
    * SimHash: postings get `tf·ln(N/df)` weights, unit-normalize per
    * doc (decimal-exact norms over ALL terms), then a term-keyed
    * self-join restricted to `df <= maxDf` accumulates the dot
    * product per pair. The df cap is the classic sparse-similarity
    * prune: ubiquitous terms carry ~zero idf weight anyway
    * (`ln(N/df) → 0`) but would blow the term join up to df² pairs —
    * cutting them bounds every term's pair fan-out at maxDf² while
    * the reported `sim` (a lower bound on true weighted cosine, over
    * full-corpus norms) loses only near-zero mass. Zero-norm docs
    * (every term at df = N) have no direction and are excluded.
    *
    * Scale shape: tf/df are the one-shuffle map-side-combined
    * aggregates every lexical op here uses; the pair join moves only
    * (id, term-hashable, rounded weight) rows of capped terms;
    * the per-pair aggregate shuffles surviving candidate pairs only.
    * All sums decimal — the report replays bit-exact. */
  def tfidfCosinePairs(docs: DataFrame, minSim: Double = 0.1,
                       maxDf: Long = 50, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val nDf = docs.select(count(lit(1)).as("_n"))
    val tf = docs
      .select(col(idCol).as("_id"),
        explode(graft.llm.TextAnalysis.tokens(col(textCol)))
          .as("term"))
      .groupBy(col("_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wgt = tf.join(dfT, "term").crossJoin(broadcast(nDf))
      .withColumn("_w",
        col("tf") * log(col("_n").cast("double") / col("df")))
    val nrm = wgt.groupBy(col("_id"))
      .agg(sqrt(sum((col("_w") * col("_w")).cast("decimal(38,12)"))
        .cast("double")).as("_nm"))
    val unit = wgt.join(nrm, "_id")
      .filter(col("_nm") > 0.0 && col("df") <= maxDf)
      .select(col("_id"), col("term"),
        round(col("_w") / col("_nm"), 6).as("w"))
    unit.as("a").join(unit.as("b"),
        col("a.term") === col("b.term") &&
          col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(round(sum((col("a.w") * col("b.w"))
        .cast("decimal(38,18)")).cast("double"), 6).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Corpus version diff — the dataset-changelog audit between two
    * versions of a corpus (the re-crawl / re-extraction QA step): a
    * full outer join on the document key classifies every id as
    * `added` (new only), `removed` (old only), `changed` (both,
    * content hash differs) or `unchanged`, rolled up to one row per
    * (source, status) with doc and char counts (chars from the
    * surviving side — new for added/changed/unchanged, old for
    * removed). A re-crawl that silently drops a source or rewrites
    * its extraction shows up as a removed/changed spike long before
    * any model-side metric moves.
    *
    * Scale shape: each side projects to (id, source, 8-byte content
    * hash, char count) before the join — text never shuffles; the
    * one shuffle is the id-keyed join, and the rollup is a
    * (source, status)-bounded aggregate. For repeated diffs of a
    * living corpus, bucket both versions by the id (the PlanSpec
    * bucketed-join shape) and the join needs no exchange at all. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 textCol: String = "text", idCol: String = "doc_id",
                 srcCol: String = "source"): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(col(idCol).as(s"_id_$tag"),
        col(srcCol).as(s"_src_$tag"),
        xxhash64(col(textCol)).as(s"_h_$tag"),
        length(col(textCol)).cast("long").as(s"_len_$tag"))
    val joined = side(oldDocs, "o").join(side(newDocs, "n"),
      col("_id_o") === col("_id_n"), "full_outer")
    val status = when(col("_id_o").isNull, lit("added"))
      .when(col("_id_n").isNull, lit("removed"))
      .when(col("_h_o") =!= col("_h_n"), lit("changed"))
      .otherwise(lit("unchanged"))
    joined.select(
        coalesce(col("_src_n"), col("_src_o")).as(srcCol),
        status.as("status"),
        coalesce(col("_len_n"), col("_len_o")).as("_chars"))
      .groupBy(col(srcCol), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_chars")).as("n_chars"))
  }

  /** NEAR-dup generalization of [[dupWeights]]: weight
    * `1/|cluster|` per doc over the connected components of any
    * near-dup pair set — each cluster of mutually-near-duplicate
    * documents contributes unit total mass to the training mix, docs
    * outside every cluster keep weight 1. Pair with
    * [[verifiedNearDupPairs]] so sketch false-positives cannot
    * down-weight distinct content. Emits `(idCol, n_members,
    * weight)` for every doc.
    *
    * Scale: component labels ride the [[connectedComponents]] path
    * (driver union-find under the edge threshold, distributed label
    * propagation beyond); sizes and the join-back move (id, long)
    * rows over the clustered-vertex set, which is ≪ corpus. */
  def nearDupWeights(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val sizes = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("_n"))
    val m = comps.join(sizes, Seq("component"))
      .select(col("id").as(idCol), col("_n"))
    docs.select(col(idCol)).join(m, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(1L)).as("n_members"),
        round(lit(1.0) / coalesce(col("_n"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** Exact dedup: keep the min-id representative of each group. */
  def exactDedup(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(xxhash64(col(textCol)))
      .orderBy(col(idCol).asc)
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  // ---------------------------------------------------------------
  // shingling
  // ---------------------------------------------------------------

  /** Word n-gram (shingle) array, distinct, from a text column —
    * `transform(sequence(...), i -> array_join(slice(tokens,...)))`.
    * Guarded for docs with < n tokens: `sequence(1, 0)` is DESCENDING
    * in Spark ([1,0]), so the zero-shingle case must short-circuit to
    * an empty array rather than produce phantom shingles. */
  def wordShingles(text: Column, n: Int): Column = {
    val tokens = filter(split(text, " "), t => t =!= "")
    val count = size(tokens) - (n - 1)
    when(count > 0,
      array_distinct(
        transform(sequence(lit(1), count),
          i => array_join(slice(tokens, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  // ---------------------------------------------------------------
  // n-gram Jaccard — exact pairwise (brute-force baseline)
  // ---------------------------------------------------------------

  /** Exact Jaccard near-dup pairs over word n-grams.
    *
    * BRUTE-FORCE BASELINE: O(N²) self-join — correct at any N but only
    * runnable at small N; it is the ground truth the LSH path
    * approximates. For 100 TB use [[minHashPairs]] (same output
    * contract, candidate-bounded). */
  def jaccardPairsBrute(docs: DataFrame, n: Int, threshold: Double,
                        textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    val withSh = docs.select(col(idCol).as("id"),
      wordShingles(col(textCol), n).as("sh"))
    val a = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("n_union",
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT n-gram Jaccard pairs via prefix filtering (Chaudhuri et
    * al. SSJoin / Bayardo AllPairs) — the scale path that keeps the
    * brute-force ANSWER: same output as [[jaccardPairsBrute]] at the
    * same threshold, with the all-pairs cross join replaced by an
    * EQUI-join on prefix shingles.
    *
    * Prefix-filter lemma: order every doc's shingle set by one global
    * total order (document frequency asc — rarest first prunes
    * hardest — then shingle); if `jaccard(A,B) >= t` then
    * `|A∩B| >= ceil(t·|A|)`, so A's first `|A| - ceil(t·|A|) + 1`
    * ordered shingles must contain one of the matches — candidate
    * pairs are exactly the pairs sharing a PREFIX shingle (both
    * sides), plus the size bound `t·|B| <= |A| <= |B|/t`. Candidates
    * are then verified with the exact intersection/union arithmetic,
    * so false candidates cost work but never appear in the output.
    * The ceil runs on `t·sz - 1e-9`: double noise may only LENGTHEN
    * the prefix (more candidates), never shorten it (lost pairs).
    *
    * The whole pipeline runs in the HASH domain: the native
    * [[graft.functions.SketchExprs.ShingleHashes]] kernel (codegen'd,
    * ~20x the interpreted string-shingle HOF) emits each doc's
    * distinct 60-bit shingle hashes, and ordering/joins/verification
    * all operate on those 8-byte keys — the same value-equals-hash
    * convention [[exactGroups]] and the MinHash family already
    * document (a 60-bit collision across a corpus vocabulary is
    * ~|shingles|²/2^61; the brute-equality spec pins the answer on
    * real data).
    *
    * Scale: shuffle keys are (8-byte prefix hash, id, size) — the
    * candidate join is term-keyed like the BM25 postings join (AQE
    * skew-splittable, broadcastable df side), the verify join touches
    * candidate pairs only; nothing is O(N²) unless the data itself
    * is (every doc sharing one rare shingle). */
  def jaccardPairsPrefix(docs: DataFrame, n: Int, threshold: Double,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         storage: org.apache.spark.storage.StorageLevel =
                           org.apache.spark.storage.StorageLevel
                             .MEMORY_AND_DISK): DataFrame =
    graft.cache.Pins.track(docs.sparkSession,
      jaccardPairsPrefixManaged(docs, n, threshold, textCol,
        idCol, storage)).value

  /** [[jaccardPairsPrefix]] with an explicit lifecycle for the
    * persisted shingle-set relation — it feeds the df aggregate, the
    * prefix stream AND both sides of the verify join (the bm25
    * postings discipline: computed once, consumed three times; the
    * interpreted shingle HOF kernel is the dominant per-row cost).
    * `storage` tunes the shingle persist: the deserialized on-heap
    * default is right up to ~10^5-doc partitions; past that a
    * single-JVM run can trade CPU for heap with
    * MEMORY_AND_DISK_SER / DISK_ONLY (the array-of-long shingle
    * columns serialize compactly) — on a real cluster the pressure
    * spreads over executors and the default stands. */
  private[graft] def jaccardPairsPrefixManaged(
      docs: DataFrame, n: Int, threshold: Double, textCol: String = "text",
      idCol: String = "doc_id",
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : graft.access.Split.Branches[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    // SORTED shingle arrays: one sort per doc at materialization so
    // the bounded verify kernel below sort-merges with zero
    // per-candidate copying/sorting (a doc joins thousands of pairs)
    val withSh = docs
      .select(col(idCol).as("id"),
        graft.functions.SketchExprs.shingleHashesSorted(col(textCol), n)
          .as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .persist(storage)
    val ex = withSh.select(col("id"), col("sz"),
      explode(col("sh")).as("s"))
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val minOverlap = ceil(lit(threshold) * col("sz").cast("double")
      - lit(1e-9))
    val prefix = ex.join(freq, Seq("s"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("df").asc, col("s").asc)))
      .filter(col("rk") <= col("sz") - minOverlap + 1)
      .select(col("s"), col("id"), col("sz"), col("rk"))
    val cand = prefixCandidates(prefix, threshold)
    // exact verification — the jaccardPairsBrute arithmetic verbatim,
    // evaluated on candidate pairs only
    val verified = cand
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      // n_inter via the native SORTED α-bounded merge kernel (shingle
      // arrays are DISTINCT by the ShingleHashes contract, so
      // |A∪B| = szA+szB−|A∩B| — same integers, and the same double
      // division, as the brute form's array_intersect/array_union;
      // the built-ins' per-row hash-set builds were the measured
      // verify bottleneck on multi-million-candidate streams). The
      // bound need = t/(1+t)·(szA+szB) − ε is the EXACT overlap a
      // pair needs to reach jaccard ≥ t: a pair that can reach it is
      // counted exactly (bit-identical output), a pair that cannot
      // is abandoned mid-merge with a count that still fails the
      // filter — the 99%+ failing candidates are the verify cost
      .withColumn("n_inter",
        graft.functions.SketchExprs.setOverlapBounded(col("sh_a"),
          col("sh_b"),
          lit(threshold / (1.0 + threshold)) *
            (size(col("sh_a")) + size(col("sh_b"))).cast("double")
            - lit(1e-9))
          .cast("double"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double")
          - col("n_inter"))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
    graft.access.Split.Branches(verified, withSh)
  }

  /** Candidate pairs from a (s, id, sz, rk) prefix-posting stream:
    * the prefix equi-join with the size bounds, plus the PPJoin
    * POSITIONAL filter (Xiao/Wang/Lin/Yu, "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW 2008): a pair matching
    * at t needs overlap α = ceil(t/(1+t)·(|A|+|B|)), and at the
    * FIRST shared prefix position (rk_a, rk_b) every shared shingle
    * sits at rank ≥ rk in both docs (ranks follow one global order),
    * so overlap ≤ 1 + min(|A|−rk_a, |B|−rk_b); occurrences failing
    * the bound are pruned. Soundness of per-occurrence pruning: a
    * true match's FIRST shared occurrence always passes (there the
    * bound is a valid overlap ceiling and overlap ≥ α), so the pair
    * survives into the distinct even if later occurrences are cut.
    * The ceil runs on α − 1e-9: double noise may only LOOSEN the
    * filter, never lose a pair. Late-prefix common shingles give
    * tiny positional ceilings and die here, BEFORE the distinct
    * shuffle and the array-carrying verify join — the candidate
    * stream, not the corpus, is the at-scale working set. MEASURED
    * cut (pre-distinct candidates, t = 0.5; BASELINE.md r17/r18):
    * 52% on the salted copy-scaled 64x corpus (69M → 33M
    * per slab), 60% on the natural Zipfian sf0.1 text (329k → 132k),
    * 56% at natural 16x (100M → 45M) — a steady ~2x+ across regimes,
    * not the order-of-magnitude a heavier-tailed prefix would give. */
  private def prefixCandidates(prefix: DataFrame,
                               threshold: Double): DataFrame = {
    val alphaD = lit(threshold / (1.0 + threshold)) *
      (col("sz_a") + col("sz_b")).cast("double")
    prefix.select(col("s"), col("id").as("id_a"),
        col("sz").as("sz_a"), col("rk").as("rk_a"))
      .join(prefix.select(col("s"), col("id").as("id_b"),
        col("sz").as("sz_b"), col("rk").as("rk_b")), Seq("s"))
      .filter(col("id_a") < col("id_b") &&
        col("sz_a").cast("double") >=
          lit(threshold) * col("sz_b").cast("double") - lit(1e-9) &&
        col("sz_b").cast("double") >=
          lit(threshold) * col("sz_a").cast("double") - lit(1e-9) &&
        (lit(1) + least(col("sz_a") - col("rk_a"),
          col("sz_b") - col("rk_b"))).cast("double") >=
          ceil(alphaD - lit(1e-9)))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** [[jaccardPairsPrefix]] in an OUT-OF-CORE slab form: identical
    * output (same prefix-filter lemma, same exact verification), with
    * the one-pass pipeline broken into an outer loop over bounded
    * shingle-hash ranges so the peak working set is CAPPED at any
    * corpus size on any topology — the single-node escape hatch for
    * the measured 64x salted heap cliff (BASELINE.md r15/r16 storage
    * experiments attributed it to single-JVM working-set pressure).
    * The one-pass form stays the CLUSTER default: there the same
    * pressure spreads over executors and one pass is cheaper.
    *
    * Mechanics: the shingle relation and the rarest-first prefix
    * stream are DISK-MATERIALIZED under `scratchDir` once (NO heap
    * persist anywhere), the prefix stream partitioned by
    * `slab = pmod(shingle_hash, S)`; slab i's candidate self-join
    * reads only its partition (partition-pruned parquet read),
    * verifies its candidates against the parquet shingle relation
    * with the exact brute arithmetic, and appends survivors to the
    * output layer. A pair sharing prefix shingles in two slabs
    * verifies twice and is deduplicated by the final `distinct` —
    * duplicate work is bounded by the prefix length, and pairs are
    * never LOST (every candidate pair shares at least one prefix
    * shingle, and that shingle lives in exactly one slab). The
    * CPU-for-heap trade is explicit: the shingle parquet is
    * re-scanned per slab for the verify join instead of living in
    * the block manager.
    *
    * EAGER by construction (the slab loop runs actions at call
    * time); the returned frame reads the materialized output. Slab
    * count is derived from the measured shingle mass (target ~4M
    * prefix postings per slab), never silently capped — the choice
    * is printed, and `slabs > 0` overrides it.
    *
    * CONSUME-BEFORE-REBUILD CONTRACT: the returned frame is a LAZY
    * reader of `scratchDir/pairs`; a subsequent call with the same
    * `scratchDir` deletes and rewrites those files, so a caller that
    * holds a returned frame across a rebuild reads missing or
    * foreign data. Consume (collect/write/localCheckpoint) before
    * any rebuild on the same scratch dir — the registered query does
    * exactly that (localCheckpoint under the scratch-path lock). */
  def jaccardPairsPrefixSlabbed(docs: DataFrame, n: Int,
                                threshold: Double, slabs: Int = 0,
                                scratchDir: String = "",
                                textCol: String = "text",
                                idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val idType = docs.schema(idCol).dataType
    def emptyResult: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", idType),
        org.apache.spark.sql.types.StructField("id_b", idType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType))))
    if (docs.isEmpty) return emptyResult
    val dir = if (scratchDir.nonEmpty) scratchDir
      else graft.Scratch.root + "/jaccard_slab"
    val shPath = s"$dir/shingles"; val prefPath = s"$dir/prefix"
    val outPath = s"$dir/pairs"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // phase timing: a long out-of-core job should say where its time
    // goes (one line per phase, same stdout channel as the slab count)
    var t0 = System.nanoTime()
    def phase(name: String): Unit = {
      val t1 = System.nanoTime()
      System.err.println(
        f"[graft] jaccard slab phase $name: ${(t1 - t0) / 1e9}%.1f s")
      t0 = t1
    }
    // SORTED shingle arrays (same device as the one-pass form): the
    // per-slab verify merges pre-ordered arrays straight off parquet
    docs.select(col(idCol).as("id"),
        graft.functions.SketchExprs.shingleHashesSorted(col(textCol), n)
          .as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .write.mode("overwrite").parquet(shPath)
    phase("shingle materialization")
    val withSh = graft.Writes.readParquet(spark, shPath)
    val statsRow = withSh.agg(count(lit(1)).as("n"),
      sum(col("sz")).as("mass")).head()
    if (statsRow.getLong(0) == 0L) return emptyResult
    val (nD, mass) = (statsRow.getLong(0),
      Option(statsRow.get(1)).map(_.asInstanceOf[Number].longValue)
        .getOrElse(0L))
    // prefix postings per doc = sz - ceil(t*sz) + 1 ~ (1-t)*sz + 1
    val estPref = ((1.0 - threshold) * mass).toLong + nD
    val nSlabs = if (slabs > 0) slabs
      else math.max(1L, (estPref + 4000000L - 1L) / 4000000L).toInt
    System.err.println(s"[graft] jaccardPairsPrefixSlabbed: $nSlabs slabs " +
      s"(docs=$nD, shingle mass=$mass, est prefix postings=$estPref, " +
      "target 4M/slab)")
    val ex = withSh.select(col("id"), col("sz"),
      explode(col("sh")).as("s"))
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val minOverlap = ceil(lit(threshold) * col("sz").cast("double")
      - lit(1e-9))
    ex.join(freq, Seq("s"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("df").asc, col("s").asc)))
      .filter(col("rk") <= col("sz") - minOverlap + 1)
      .select(col("s"), col("id"), col("sz"), col("rk"),
        pmod(col("s"), lit(nSlabs.toLong)).as("slab"))
      .write.mode("overwrite").partitionBy("slab").parquet(prefPath)
    phase("prefix stream (df + window + write)")
    fs.delete(new org.apache.hadoop.fs.Path(outPath), true)
    val pref = graft.Writes.readParquet(spark, prefPath)
    (0 until nSlabs).foreach { i =>
      val p = pref.filter(col("slab") === i)
        .select(col("s"), col("id"), col("sz"), col("rk"))
      val cand = prefixCandidates(p, threshold)
      cand
        .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")),
          Seq("id_a"))
        .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")),
          Seq("id_b"))
        // native α-bounded sorted-merge count — see the one-pass form
        .withColumn("n_inter",
          graft.functions.SketchExprs.setOverlapBounded(col("sh_a"),
            col("sh_b"),
            lit(threshold / (1.0 + threshold)) *
              (size(col("sh_a")) + size(col("sh_b"))).cast("double")
              - lit(1e-9)).cast("double"))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast("double")
            - col("n_inter"))
        .withColumn("jaccard", col("n_inter") / col("n_union"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .write.mode("append").parquet(outPath)
      phase(s"slab $i (candidates + verify + append)")
    }
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val hasParts = fs.exists(outP) && fs.listStatus(outP)
      .exists(_.getPath.getName.startsWith("part-"))
    if (!hasParts) emptyResult
    else graft.Writes.readParquet(spark, outPath).distinct()
  }

  // ---------------------------------------------------------------
  // MinHash + LSH — the scale path
  // ---------------------------------------------------------------

  /** Codegen-friendly token-count predicate: trim + split-on-space-runs
    * counts exactly the non-empty single-space tokens, without the
    * CodegenFallback `filter(...)` higher-order function — keeps the
    * scan->filter->project signature stage in ONE whole-stage-codegen
    * span (asserted by PlanSpec). */
  private def tokenCountAtLeast(text: Column, n: Int): Column =
    trim(text) =!= "" && size(split(trim(text), " +")) >= n

  /** MinHash signatures: (id, sig: array<long> of length k), computed
    * by the native [[graft.functions.SketchExprs.MinHashText]]
    * expression — the affine family h_i(x) = (a_i*x32 + b_i) mod P
    * (P prime > 2^32, seeded => reproducible run-to-run, required for
    * incremental dedup).
    *
    * ROW-LOCAL: the whole signature is one narrow codegen'd projection
    * — NO explode, NO shuffle. At 100 TB the signature stage is a pure
    * map over the corpus scan; the first shuffle in a dedup job is the
    * LSH band join. Docs with zero shingles carry no signature. */
  def minHashSignatures(docs: DataFrame, shingleSize: Int = 3, k: Int = 64,
                        seed: Long = 42L, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame =
    docs.filter(tokenCountAtLeast(col(textCol), shingleSize))
      .select(col(idCol).as("id"),
        graft.functions.SketchExprs.minhashText(
          col(textCol), shingleSize, k, seed).as("sig"))

  /** Estimated Jaccard from two signatures: fraction of agreeing
    * minhash positions (native codegen'd expression). */
  private[graft] def sigSimilarity(sigA: Column, sigB: Column): Column =
    graft.functions.SketchExprs.sigSim(sigA, sigB)

  /** MinHash+LSH near-dup candidate pairs with estimated similarity.
    *
    * Banding: signature split into `bands` bands of k/bands rows; a
    * pair collides if any band hashes equal. Collision probability
    * 1-(1-s^r)^b — with k=64, bands=16 (r=4) the curve crosses ~0.5
    * at s≈0.5, catching s>=0.7 pairs w.p. >0.99.
    *
    * Plan shape: posexplode(bands) -> self-join on (band_idx,
    * band_hash) -> distinct pairs -> similarity filter. The join key
    * is 12 bytes; bucket skew (a band value shared by M docs) costs
    * M² pairs in that bucket only — AQE skew-join splits it. */
  def minHashPairs(docs: DataFrame, threshold: Double = 0.7,
                   shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
                   seed: Long = 42L, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    graft.cache.Pins.track(docs.sparkSession,
      minHashPairsManaged(docs, threshold, shingleSize, k, bands, seed,
        textCol, idCol)).value

  /** [[minHashPairs]] with an explicit cache lifecycle: the persisted
    * signature set backing the returned plan is released by `close()`
    * (same [[graft.access.Split.Branches]] discipline as the split
    * operators). Call close() after the pairs have been consumed —
    * the unmanaged shorthand instead tracks its pin in
    * [[graft.cache.Pins]], released at the session's next
    * `Pins.release`. */
  def minHashPairsManaged(docs: DataFrame, threshold: Double = 0.7,
                          shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
                          seed: Long = 42L, textCol: String = "text",
                          idCol: String = "doc_id")
      : graft.access.Split.Branches[DataFrame] = {
    require(k % bands == 0, "bands must divide k")
    // persist signatures: (id, 64 longs) per doc — tiny vs the text —
    // consumed four times below (both band-join sides + both attach
    // joins); without the persist each consumer re-runs the scan +
    // kernel. At 100 TB you'd write sigs to a parquet layer instead
    // (same idea, durable).
    val sigs = minHashSignatures(docs, shingleSize, k, seed, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Shuffle discipline (same as hyperplane LSH): the band self-join
    // and pair-dedup move only (band, bh, id) — signatures are
    // attached AFTER the distinct, so 512-byte sigs never ride the
    // candidate-pair shuffle, and sigSim runs once per unique pair.
    val banded = sigs.select(col("id"),
      posexplode(graft.functions.SketchExprs.bandHashes(col("sig"), bands))
        .as(Seq("band", "bh")))
    val pairs = banded.as("a").join(banded.as("b"), Seq("band", "bh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()                                        // dedup across bands
    val result = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        sigSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    graft.access.Split.Branches(result, sigs)
  }

  /** Incremental ingest dedup: near-dup pairs BETWEEN a new batch and
    * an existing corpus (no within-side pairs) — the repeatable-ingest
    * primitive: signatures of the standing corpus are computed once
    * (in production: persisted as a parquet signature layer and only
    * appended to), and each incoming batch LSH-joins against them.
    *
    * Scale: the new batch is small relative to the corpus, so its
    * banded signatures broadcast — the standing corpus is neither
    * re-scanned per batch (signatures are precomputed) nor shuffled
    * (broadcast join). The seeded hash family makes signatures stable
    * across runs, which is what makes the signature layer reusable. */
  def minHashPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                          threshold: Double = 0.7, shingleSize: Int = 3,
                          k: Int = 64, bands: Int = 16, seed: Long = 42L,
                          textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // deliberately NOT persisted here: the returned plan re-derives
    // each side's signatures once per consumer, and a persist with no
    // unpersist would leak a CacheManager entry per call (fatal for
    // per-micro-batch callers). Callers that reuse signatures manage
    // their own lifecycle and call [[minHashPairsFromSigs]] — in
    // production the corpus side is a PERSISTED parquet signature
    // layer anyway (see graft.streaming.IngestStream).
    val newSigs =
      minHashSignatures(newDocs, shingleSize, k, seed, textCol, idCol)
    val corpusSigs =
      minHashSignatures(corpus, shingleSize, k, seed, textCol, idCol)
    minHashPairsFromSigs(newSigs, corpusSigs, threshold, bands)
  }

  /** Signature-level core of [[minHashPairsAgainst]]: cross-side LSH
    * pairs between two `(id, sig)` frames. This is the form a
    * production ingest uses — the corpus side is a PERSISTED signature
    * layer (parquet, append-only), not recomputed per batch. */
  def minHashPairsFromSigs(newSigs: DataFrame, corpusSigs: DataFrame,
                           threshold: Double = 0.7, bands: Int = 16)
      : DataFrame = {
    def banded(sigs: DataFrame) = sigs.select(col("id"),
      posexplode(graft.functions.SketchExprs.bandHashes(col("sig"), bands))
        .as(Seq("band", "bh")))
    val pairs = banded(newSigs).as("a")
      .join(banded(corpusSigs).as("b"), Seq("band", "bh"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_corpus"))
      .distinct()
    pairs
      .join(newSigs.select(col("id").as("id_new"), col("sig").as("sig_a")),
        Seq("id_new"))
      .join(corpusSigs.select(col("id").as("id_corpus"),
        col("sig").as("sig_b")), Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        sigSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Two-stage VERIFIED near-dup pairs — the candidate/verify shape
    * production dedup pipelines run when sketch similarity alone is
    * not evidence enough (legal-grade dedup, eval-set decontam):
    * MinHash-LSH proposes candidates ([[minHashPairs]] at the
    * permissive `estThreshold`), then each candidate is CONFIRMED by
    * exact character-level edit distance, keeping the estimate, the
    * distance, the normalized edit similarity
    * `1 − dist / max(len_a, len_b)`, and the `verified` verdict
    * (`edit_sim >= tau`).
    *
    * The verify stage uses the THRESHOLDED Levenshtein (per-pair
    * bound `floor(maxlen·(1−tau))`, the banded O(len·k) early-exit
    * rather than the O(len²) full table): a pair that exceeds its
    * bound reports `edit_dist = -1` and a null `edit_sim` — the
    * sentinel Spark's own thresholded `levenshtein` emits, kept
    * as-is so the report distinguishes "verified far" from any real
    * distance.
    *
    * Scale shape: stage 1 is the audited LSH plan (band self-join on
    * 12-byte keys, output-bound); stage 2 joins TEXT back for the
    * CANDIDATE SET ONLY — text rides an id-keyed join against the
    * (bounded) pair set, never an all-pairs shuffle, and the edit
    * kernel runs once per candidate. At 100 TB the candidate volume —
    * not the corpus — prices verification, which is the point of
    * two-stage dedup. */
  def verifiedNearDupPairs(docs: DataFrame, tau: Double = 0.8,
                           estThreshold: Double = 0.35,
                           shingleSize: Int = 3, k: Int = 64,
                           bands: Int = 16, seed: Long = 42L,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val cand = minHashPairs(docs, estThreshold, shingleSize, k, bands,
      seed, textCol, idCol)
    val txt = docs.select(col(idCol), col(textCol))
    val maxLen = greatest(length(col("_ta")), length(col("_tb")))
    val maxDist = floor(maxLen.cast("double") * lit(1.0 - tau))
      .cast("int")
    cand
      .join(txt.select(col(idCol).as("id_a"), col(textCol).as("_ta")),
        Seq("id_a"))
      .join(txt.select(col(idCol).as("id_b"), col(textCol).as("_tb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        call_function("levenshtein", col("_ta"), col("_tb"), maxDist)
          .as("edit_dist"),
        maxLen.cast("long").as("_ml"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        col("edit_dist"),
        when(col("edit_dist") >= 0,
          round(lit(1.0) - col("edit_dist").cast("double") /
            col("_ml").cast("double"), 6)).as("edit_sim"),
        (col("edit_dist") >= 0).as("verified"))
  }

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  /** 64-bit SimHash per document: sign of the per-bit sum of token
    * hash bits (+1/-1), via the native
    * [[graft.functions.SketchExprs.SimHashText]] expression.
    *
    * ROW-LOCAL: one narrow codegen'd projection — NO explode, NO
    * shuffle (same scale argument as [[minHashSignatures]]). Docs with
    * zero tokens carry no simhash. */
  private[graft] def simHash(docs: DataFrame, textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame =
    docs.filter(tokenCountAtLeast(col(textCol), 1))
      .select(col(idCol).as("id"),
        graft.functions.SketchExprs.simhashText(col(textCol)).as("simhash"))

  /** Near-dup pairs by SimHash Hamming distance <= maxDist, using
    * 16-bit band join (any pair within distance d <= 3 shares at least
    * one of 4 exact 16-bit bands by pigeonhole). */
  def simHashPairs(docs: DataFrame, maxDist: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    simHashPairsFromSigs(simHash(docs, textCol, idCol), maxDist)

  /** Band-join core of [[simHashPairs]] over any `(id, simhash)`
    * frame — also serves the byte-level blob sketch
    * ([[graft.llm.Multimodal.blobNearDupPairs]]). */
  def simHashPairsFromSigs(sh: DataFrame, maxDist: Int = 3): DataFrame = {
    // 4 exact 16-bit bands emitted by ONE generator pass (posexplode
    // of the band array: pos = band index), not a 4-way union that
    // would re-derive the simhash per band
    val bands = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bh")))
    val a = bands.select(col("id").as("id_a"), col("simhash").as("sh_a"),
      col("band"), col("bh"))
    val b = bands.select(col("id").as("id_b"), col("simhash").as("sh_b"),
      col("band"), col("bh"))
    val popcnt = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), popcnt.as("hamming"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("hamming")).as("hamming"))
  }

  /** Cross-side SimHash pairs: `(id_new, id_corpus, hamming)` between
    * two `(id, simhash)` frames — the incremental-ingest form of
    * [[simHashPairsFromSigs]] (no within-side pairs, no triangle
    * restriction; the new side is small and broadcasts). */
  def simHashPairsAcross(newSigs: DataFrame, corpusSigs: DataFrame,
                         maxDist: Int = 3): DataFrame = {
    def banded(sh: DataFrame, idAs: String, shAs: String) =
      sh.select(col("id").as(idAs), col("simhash").as(shAs),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "bh")))
    val popcnt = bit_count(col("sh_n").bitwiseXOR(col("sh_c")))
    banded(newSigs, "id_new", "sh_n")
      .join(banded(corpusSigs, "id_corpus", "sh_c"), Seq("band", "bh"))
      .select(col("id_new"), col("id_corpus"), popcnt.as("hamming"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("id_new"), col("id_corpus"))
      .agg(first(col("hamming")).as("hamming"))
  }

  // ---------------------------------------------------------------
  // pair set -> duplicate clusters (connected components)
  // ---------------------------------------------------------------

  /** Connected components over a near-dup pair set, ADAPTIVE:
    *
    * The edge set is the candidate-bounded LSH output — orders of
    * magnitude smaller than the corpus (a corpus with 30% duplicates
    * has ~0.3N edges; 100 TB of text is ~10^10 docs but the pair set
    * fits a driver comfortably until ~10^8 edges). So: count the
    * edges; below `driverThreshold` run union-find on the driver (two
    * jobs total — the same call pattern as AQE's own size-based plan
    * switches); above it, distributed hash-min label propagation
    * (join + min-agg per round, labels persisted per round,
    * convergence-tested; near-dup clusters are shallow so 2-4 rounds
    * suffice).
    *
    * LINEAGE / FAULT-TOLERANCE CONTRACT (distributed path): each
    * round truncates its lineage with `localCheckpoint(eager)` —
    * plans stay O(1) per round instead of O(rounds) — and the FINAL
    * round's blocks are handed to
    * [[graft.cache.Pins.trackLocalCheckpoint]], so the returned frame
    * must be fully consumed BEFORE `Pins.release`: unlike a persisted
    * frame (which silently recomputes), a local checkpoint cannot be
    * recomputed after its blocks are freed. Local checkpoint blocks
    * are also executor-local and non-recomputable on executor loss —
    * fine in local mode and for single-serve consumption, but a long
    * cluster job that must survive executor failure should pass
    * `checkpointDir = Some(dir)`: every round then uses RELIABLE
    * `checkpoint()` into that directory (recomputable from storage,
    * survives executor loss; checkpoint files are left to the
    * directory's owner to reap — standard `setCheckpointDir`
    * semantics), and the returned frame reads from reliable storage
    * with no consume-before-release constraint.
    *
    * Returns (id, component), component = min id in the cluster. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
                          driverThreshold: Long = 2000000L,
                          checkpointDir: Option[String] = None)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    // persist the pair set: consumed by the size probe, then by either
    // the driver collect (cached -> cheap) or the distributed edge
    // build's two union branches
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (p.count() <= driverThreshold) {
        // driver union-find (path compression; min id becomes root).
        // Works on the RAW pair list: edge direction and duplicate
        // edges are irrelevant to union-find, so no bidirectional
        // union / distinct shuffle on the cluster first.
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        p.select(col("id_a"), col("id_b")).collect().foreach { row =>
          val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        val verts = parent.keySet ++ parent.values
        import spark.implicits._
        verts.toSeq.map(v => (v, find(v))).toDF("id", "component")
      } else {
        val edges = p
          .select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(
            p.select(col("id_b").as("src"), col("id_a").as("dst")))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // each round LOCAL-CHECKPOINTS its labels instead of
          // persisting them: a persisted frame executes from cache
          // but its ANALYZED plan still carries every prior round's
          // lineage, so round i's analysis/optimization walks an
          // O(i)-deep tree and the final consumer replans the whole
          // chain (the llm_dedup_clusters_dist plan formatted to
          // 1.6 MB). The checkpoint truncates lineage at each round
          // boundary — plans stay O(1) per round — at the price of
          // the consume-before-release contract documented on
          // [[graft.cache.Pins.trackLocalCheckpoint]] (the returned
          // frame does not recompute after release; every caller
          // consumes within its own query execution).
          def ckRdds(df: DataFrame) =
            df.queryExecution.analyzed.collect {
              case lr: org.apache.spark.sql.execution.LogicalRDD =>
                lr.rdd
            }
          // reliable mode: point the context at the caller's dir once
          // and swap every per-round truncation to checkpoint() —
          // same lineage shape, storage-backed recovery.
          // setCheckpointDir(d) sets a fresh `d/<uuid>` subdir, so
          // the context already points at d exactly when that
          // subdir's qualified parent IS d (a substring test would
          // take a sibling `d2/<uuid>` for d)
          checkpointDir.foreach { d =>
            val conf = spark.sparkContext.hadoopConfiguration
            def qualified(p: org.apache.hadoop.fs.Path) =
              p.getFileSystem(conf).makeQualified(p)
            val want = qualified(new org.apache.hadoop.fs.Path(d))
            if (!spark.sparkContext.getCheckpointDir.exists(c =>
                qualified(new org.apache.hadoop.fs.Path(c)).getParent ==
                  want))
              spark.sparkContext.setCheckpointDir(d)
          }
          def truncate(df: DataFrame): DataFrame =
            if (checkpointDir.isDefined) df.checkpoint(true)
            else df.localCheckpoint(true)
          var labels = truncate(
            edges.select(col("src").as("id")).distinct()
              .withColumn("component", col("id")))
          var labelRdds = ckRdds(labels)
          var converged = false
          var iter = 0
          while (!converged && iter < maxIter) {
            // label(v) <- min(label(v), min label(u) for u~v)
            val neighborMin = edges
              .join(labels.withColumnRenamed("id", "src"), Seq("src"))
              .groupBy(col("dst").as("id"))
              .agg(min(col("component")).as("n_min"))
            val next = truncate(labels.join(neighborMin, Seq("id"), "left")
              .select(col("id"),
                least(col("component"),
                  coalesce(col("n_min"), col("component"))).as("component")))
            val changed = next
              .join(labels.withColumnRenamed("component", "old"), Seq("id"))
              .filter(col("component") < col("old")).limit(1).count()
            labelRdds.foreach(_.unpersist(blocking = false))
            labels = next
            labelRdds = ckRdds(next)
            converged = changed == 0
            iter += 1
          }
          // local mode: hand the final round's checkpoint blocks to
          // the session registry so Pins.release frees them after the
          // consumer's actions, like every unmanaged shorthand.
          // Reliable mode has no executor blocks to track — the frame
          // reads from the checkpoint dir.
          if (checkpointDir.isEmpty)
            graft.cache.Pins.trackLocalCheckpoint(labels)
          labels
        } finally { edges.unpersist(); () }
      }
    } finally { p.unpersist(); () }
  }

  /** End-to-end near-dup dedup: MinHash-LSH pairs -> connected
    * components -> keep one representative (min id) per cluster.
    * Returns the deduplicated documents. */
  def nearDupDedup(docs: DataFrame, threshold: Double = 0.7,
                   textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    // connectedComponents fully materializes the pair set before
    // returning (size probe + driver collect or per-round label
    // persists), so the signature cache can be released right after
    val handle = minHashPairsManaged(docs, threshold, textCol = textCol,
      idCol = idCol)
    val comps =
      try connectedComponents(handle.value) finally handle.close()
    keepRepresentatives(docs, comps, idCol)
  }

  /** Keep one min-id representative per cluster of a `(id, component)`
    * assignment; docs outside any cluster always survive. The
    * downstream half of [[nearDupDedup]], reusable against a
    * PRECOMPUTED cluster table (clusters are a corpus-version
    * artifact — build once, consume from every query). */
  def keepRepresentatives(docs: DataFrame, comps: DataFrame,
                          idCol: String = "doc_id"): DataFrame = {
    val reps = comps.groupBy(col("component"))
      .agg(min(col("id")).as("keep"))
      .select(col("keep").as(idCol))
    val dupIds = comps.select(col("id").as(idCol))
      .exceptAll(reps)
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Per-document dedup PROVENANCE across the staged dedup chain —
    * the audit trail a curation pipeline ships next to the cleaned
    * corpus ("why is doc X gone, and what replaced it"): for every
    * doc, the FIRST stage that claims it and the direct representative
    * at that stage.
    *
    *  - `stage = 'exact'`: a smaller doc id carries byte-identical
    *    content — `keep_id` is that exact representative;
    *  - `stage = 'near_dup'`: survives exact dedup but sits in a
    *    near-dup component (`comps` = [[connectedComponents]] over the
    *    MinHash pair set) whose min id is smaller — `keep_id` is the
    *    component representative;
    *  - `stage = 'kept'`: the doc survives the whole chain
    *    (`keep_id` = itself) — exactly the
    *    [[keepRepresentatives]] survivor set restricted to exact
    *    representatives.
    *
    * `keep_id` is the DIRECT representative at the claiming stage;
    * chains (an exact keep that is itself a near-dup) resolve by
    * following `keep_id` — the table is its own lookup.
    *
    * Scale: the exact stage shuffles 64-bit content hashes (text
    * never moves), the component assignment is the (small) clustered
    * vertex set joined by id — both the shapes the individual stages
    * already use; the lineage is one extra hash-keyed join over them. */
  def dedupLineage(docs: DataFrame, comps: DataFrame,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val hashed = docs.select(col(idCol), xxhash64(col(textCol)).as("_h"))
    val eKeep = hashed.groupBy(col("_h"))
      .agg(min(col(idCol)).as("_exact_keep"))
    hashed.join(eKeep, Seq("_h"))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        when(col("_exact_keep") < col(idCol), lit("exact"))
          .when(col("component").isNotNull &&
            col("component") < col(idCol), lit("near_dup"))
          .otherwise(lit("kept")).as("stage"),
        when(col("_exact_keep") < col(idCol), col("_exact_keep"))
          .when(col("component").isNotNull &&
            col("component") < col(idCol), col("component"))
          .otherwise(col(idCol)).as("keep_id"))
  }

  /** Prefix-hash duplicate groups — the cheap first-pass crawl dedup
    * (mirror pages, pagination tails, and truncated re-crawls share
    * long identical PREFIXES while differing later): group docs by
    * their first `nTok` tokens and report every group with more than
    * one member as `(keep_id = min id, n_docs)`.
    *
    * Scale: row-local prefix extraction, then the [[exactGroups]]
    * shape keyed on `xxhash64(prefix)` — 8 bytes shuffle per doc
    * regardless of document length; no pairwise comparison anywhere.
    * A doc shorter than `nTok` tokens groups by its full token
    * sequence. */
  def prefixGroups(docs: DataFrame, nTok: Int = 8,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val prefix = array_join(
      slice(TextAnalysis.tokens(col(textCol)), 1, nTok), " ")
    docs.select(col(idCol), xxhash64(prefix).as("_ph"))
      .groupBy(col("_ph"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("keep_id"), col("n_docs"))
  }

  /** Lens-agreement matrix between the LEXICAL near-dup detector
    * (MinHash-Jaccard pairs, `(id_a, id_b, est_jaccard)`) and the
    * EMBEDDING one (cosine pairs, `(id_a, id_b, cosine)`) — the
    * diagnostic that tells you whether the two lenses see the same
    * duplication (crank one threshold) or disjoint phenomena (near-
    * verbatim copies vs paraphrases — run both, as SemDeDup argues).
    * Full outer on the (upper-triangular) pair key; each row carries
    * `category` ∈ {both, lexical_only, embedding_only} plus whichever
    * scores exist.
    *
    * Scale: both inputs are the output-bound pair sets their
    * detectors already produce; the agreement join is pair-keyed and
    * pair-sized — nothing rescans the corpus. */
  def dedupAgreement(lexPairs: DataFrame, embPairs: DataFrame)
      : DataFrame = {
    val l = lexPairs.select(col("id_a"), col("id_b"),
      col("est_jaccard"))
    val e = embPairs.select(col("id_a"), col("id_b"), col("cosine"))
    l.join(e, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        when(col("est_jaccard").isNotNull && col("cosine").isNotNull,
          lit("both"))
          .when(col("est_jaccard").isNotNull, lit("lexical_only"))
          .otherwise(lit("embedding_only")).as("category"),
        col("est_jaccard"), col("cosine"))
  }

  /** Per-cluster representative selection by QUALITY (the RefinedWeb
    * move): over a `(id, component)` cluster assignment, keep the
    * member maximizing `quality` (ties to the lowest id) — "keep the
    * best copy", not "keep the oldest id". Returns one
    * `(component, keep_id, quality)` row per cluster.
    *
    * Scale: one join putting the quality value on the (small)
    * clustered-vertex set, one window keyed by component — cluster
    * count ≪ corpus by construction. */
  def bestPerCluster(comps: DataFrame, docQuality: DataFrame,
                     idCol: String = "doc_id",
                     qualityCol: String = "quality"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
      .orderBy(col(qualityCol).desc, col("id").asc)
    comps.join(docQuality.withColumnRenamed(idCol, "id"), Seq("id"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("component"), col("id").as("keep_id"), col(qualityCol))
  }

  // ---------------------------------------------------------------
  // embedding-cosine near-dup
  // ---------------------------------------------------------------

  /** Embedding near-duplicate pairs above a cosine threshold.
    * BRUTE-FORCE BASELINE (O(N²)); the LSH-bucketed scale path is
    * [[Similarity.lshCosinePairs]]. */
  def embeddingPairsBrute(emb: DataFrame, threshold: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", round(VectorOps.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  // ---------------------------------------------------------------
  // chunk-level (line/paragraph) exact dedup
  // ---------------------------------------------------------------

  /** Non-overlapping `w`-token chunk array of a text column; the last
    * chunk may be shorter. The sub-document unit for corpus-wide
    * repeated-passage removal (the line-level dedup of web-scale
    * curation pipelines, generalized to fixed token windows because
    * the corpus has no line structure). */
  def tokenChunks(text: Column, w: Int): Column = {
    require(w > 0, "chunk width must be positive")
    val toks = filter(split(text, " "), t => t =!= "")
    when(size(toks) > 0,
      transform(sequence(lit(0), ((size(toks) - 1) / lit(w)).cast("int")),
        i => array_join(slice(toks, i * w + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Remove corpus-wide repeated passages: chunks whose occurrence
    * count exceeds `maxFreq` are dropped from every document and the
    * survivors re-joined in order. Documents reduced to nothing stay
    * as empty-text rows (callers chain a length filter).
    *
    * Scale shape: (1) chunk frequencies aggregate on 64-bit hashes
    * (map-side combined); (2) only the OVER-FREQUENT (doc, pos) hits
    * ride the join back — for a mostly-clean corpus that is a sparse
    * fraction of rows, and AQE broadcasts the bad-position side when
    * it is small; (3) untouched documents take a null-branch fast path
    * that never re-tokenizes. Document text itself is shuffled at most
    * once (the bad-position join keyed on `idCol`). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 20, maxFreq: Long = 1,
                 textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    // hash each chunk ONCE so only (id, pos, h) reaches both
    // consumers — chunk TEXT never rides a shuffle (PlanSpec-gated).
    // The scan+explode still runs once per consumer (the frequency
    // aggregate's partial-agg subtree can't share an exchange with
    // the join side); collapsing to one collect_list pass per hash
    // would be worse — an over-frequent chunk's occurrence list is
    // exactly the skew bomb the join shape distributes. At 100 TB,
    // persist or bucket the chunk projection by `_h` to pay the
    // explode once.
    val chunks = docs.select(col(idCol),
        posexplode(tokenChunks(col(textCol), chunkTokens))
          .as(Seq("_pos", "_c")))
      .select(col(idCol), col("_pos"), xxhash64(col("_c")).as("_h"))
    val overFreq = chunks
      .groupBy(col("_h"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxFreq)
    // positions of over-frequent chunks, folded to one small array per
    // affected doc (positions are ints)
    val badPos = chunks
      .join(overFreq, Seq("_h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_pos"))).as("_bad"))
    docs.join(badPos, Seq(idCol), "left")
      .withColumn("text_clean",
        when(col("_bad").isNull, col(textCol))
          .otherwise(array_join(filter(
            tokenChunks(col(textCol), chunkTokens),
            (c, i) => !array_contains(col("_bad"), i)), " ")))
      .withColumn("n_chunks_dropped",
        coalesce(size(col("_bad")), lit(0)).cast("long"))
      .drop("_bad")
  }

  // ---------------------------------------------------------------
  // exact-substring duplicate spans (suffix-array-family dedup)
  // ---------------------------------------------------------------

  /** Exact-substring duplicate spans — the suffix-array dedup of Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", which builds a corpus suffix array to find repeated
    * byte runs), re-expressed Spark-first as rolling window-gram
    * matching: a token position is duplicated when its `l`-token
    * window occurs at ≥2 positions corpus-wide (other docs or
    * elsewhere in the same doc); maximal runs of duplicated positions
    * merge into spans. Returns one row per maximal span:
    * `(doc_id, span_start, span_len, n_windows)` with 1-based token
    * offsets — the span covers tokens
    * `[span_start, span_start + span_len - 1]`, exactly the byte
    * ranges a substring-dedup pass would cut.
    *
    * Equivalent to the suffix-array answer for runs ≥ `l` tokens
    * (any repeat of length ≥ l is a run of repeated l-windows;
    * repeats shorter than l are below the dedup threshold by
    * definition).
    *
    * Scale: docs explode to `(id, pos, h)` where `h` is a 60-bit
    * window hash — 16-byte rows on every shuffle, the gram text
    * never leaves the scan. Global window counts aggregate on `h`
    * with map-side combine; duplicated hashes join back onto the
    * position stream (AQE broadcasts the dup side while it fits —
    * dups ≪ windows in a mostly-clean corpus); span merge is one
    * per-doc window bounded by doc length. The window stream is
    * derived twice (count + join side) — two scans of a narrow
    * projection; persist `wins` instead if the input is not a cheap
    * parquet scan. The window hash follows the
    * [[graft.functions.SketchOps.FamilyKey]] switch: XXH64 in
    * production, md5-60 (first 15 hex chars) under oracle
    * verification so the whole op replays bit-exact in any ANSI
    * engine; collisions are 2^-60-scale false merges — the standard
    * fingerprinting trade. */
  def substringDupSpans(docs: DataFrame, l: Int = 8,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dupWindows(docs, l, textCol, idCol)
      .select(col(idCol), col("pos"))
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + l).cast("long")
          .as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_len"),
        col("n_windows"))
  }

  /** `(id, pos, h)` for every token position whose `l`-window hash
    * occurs ≥2 times corpus-wide (shared by [[substringDupSpans]] /
    * [[substringDedup]]). */
  private def dupWindows(docs: DataFrame, l: Int, textCol: String,
                         idCol: String): DataFrame = {
    // window hashes come from the native positional kernel
    // (SketchOps.windowHashes): one tokenize pass per doc, no gram
    // string materialization in the plan, family-aware — codegen'd
    // XXH64>>>4 in production, md5-60 under Verify so the oracle SQL
    // replays it (the interpreted transform/md5 HOF chain this
    // replaces dominated the sf0.1 scan)
    val wins = docs
      .select(col(idCol), posexplode(
        graft.functions.SketchExprs.windowHashes(col(textCol), l)))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("h"))
    val dups = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= 2)
      .select(col("h"))
    wins.join(dups, Seq("h"))
  }

  /** Exact-substring dedup, materialized — the cut step of Lee et al.
    * 2022: remove every duplicated span from the corpus EXCEPT the
    * canonical occurrence. A span (maximal duplicated run, as in
    * [[substringDupSpans]]) is kept iff its doc holds the globally
    * first occurrence — min `(id, pos)` — of the span's LEADING window
    * hash; every other copy has its tokens cut. Returns the full doc
    * schema plus `text_clean` (original text when untouched; surviving
    * tokens space-joined when cut) and `n_tokens_dropped`.
    *
    * When overlapping repeats chain (a run's canonical occurrence sits
    * mid-span in a doc whose own span leads with a different window),
    * a run can lose all copies — the conservative direction for
    * training-data dedup.
    *
    * Scale: everything up to the span table is [[substringDupSpans]]'s
    * narrow plan; canonical election is one window over duplicated
    * positions keyed by hash; per-doc cut lists are collect_list'd
    * position structs (spans/doc ≪ doc length) joined back onto the
    * corpus — full text rides that one join, nothing else. */
  def substringDedup(docs: DataFrame, l: Int = 8,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dw = dupWindows(docs, l, textCol, idCol)
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = dw
      .withColumn("_grp", col("pos") - row_number().over(wDoc))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("pos")).as("_start"),
        (max(col("pos")) + (l - 1)).as("_end"),
        min_by(col("h"), col("pos")).as("_h0"))
    val canon = dw
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))))
      .filter(col("_rn") === 1)
      .select(col("h").as("_h0"), col(idCol).as("_cd"),
        col("pos").as("_cp"))
    val drops = spans.join(canon, Seq("_h0"))
      .filter(!(col(idCol) === col("_cd") &&
        col("_start") === col("_cp")))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_start"), col("_end"))).as("_cuts"))
    val toks = graft.llm.TextAnalysis.tokens(col(textCol))
    val kept = filter(toks, (_, i) =>
      !exists(col("_cuts"), r =>
        i + 1 >= r.getField("_start") && i + 1 <= r.getField("_end")))
    docs.join(drops, Seq(idCol), "left")
      .withColumn("text_clean",
        when(col("_cuts").isNull, col(textCol))
          .otherwise(array_join(kept, " ")))
      .withColumn("n_tokens_dropped",
        when(col("_cuts").isNull, lit(0L))
          .otherwise((size(toks) - size(kept)).cast("long")))
      .drop("_cuts")
  }

  /** Pairwise corpus-slice overlap matrix: Jaccard similarity of the
    * DISTINCT `n`-token shingle sets of every group pair (default:
    * per source) — the cross-source contamination / redundancy gauge
    * a mixing stage consults before weighting sources (a pair of
    * mirrors shows up near 1.0, disjoint domains near 0.0). Returns
    * one row per unordered pair:
    * `(src_a, src_b, n_a, n_b, n_common, jaccard)`.
    *
    * Scale shape: shingles ride as 60-bit window hashes from the
    * native positional kernel ([[graft.functions.SketchExprs
    * .windowHashes]] — XXH64 in production, md5-60 under oracle
    * verification), so the per-group distinct and the intersection
    * self-join shuffle 8-byte keys, never gram text. The self-join on
    * `h` is skew-safe by construction: a hash key holds at most one
    * row PER GROUP after the distinct, so the widest key fans out to
    * at most |groups|² pairs. Group sizes and the full pair frame are
    * |groups|-sized (broadcast). */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
                    groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val ss = docs.select(col(groupCol).as("_g"),
        explode(graft.functions.SketchExprs
          .windowHashes(col(textCol), n)).as("_h"))
      .distinct()
    val sizes = ss.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    val inter = ss.as("a")
      .join(ss.as("b"),
        col("a._h") === col("b._h") && col("a._g") < col("b._g"))
      .groupBy(col("a._g").as("src_a"), col("b._g").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val pairs = sizes.as("sa")
      .join(sizes.as("sb"), col("sa._g") < col("sb._g"))
      .select(col("sa._g").as("src_a"), col("sb._g").as("src_b"),
        col("sa._n").as("n_a"), col("sb._n").as("n_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") -
            coalesce(col("n_common"), lit(0L))).cast("double"), 6)
          .as("jaccard"),
        // directional containment (overlap coefficient): a SUBSET
        // mirror shows near-1 containment with low Jaccard when the
        // sides differ in size — the case Jaccard alone hides
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6)
          .as("containment"))
  }

  /** Winnowed document fingerprints — Schleimer/Wilkerson/Aiken 2003
    * (the MOSS algorithm): over the positional `k`-token window-gram
    * hashes, slide a window of `w` consecutive hashes and select the
    * minimum (rightmost occurrence on ties); adjacent windows mostly
    * re-select the same position, so the distinct selections are a
    * ~`2/(w+1)` density sample of the gram stream with the winnowing
    * guarantee: any shared run of at least `w + k - 1` tokens yields
    * at least one shared fingerprint. Returns one row per selected
    * print: `(id, pos, print_hash)` with 1-based token offsets.
    *
    * Scale shape: selection is ROW-LOCAL and FUSED — the native
    * [[graft.functions.SketchExprs.winnowPrints]] kernel (XXH64 in
    * production / md5-60 under oracle verification) tokenizes,
    * hashes and winnows in one codegen'd pass per row, so
    * fingerprinting a corpus is a pure scan: zero shuffles, text
    * never leaves the scan, and the downstream index is `w`-fold
    * smaller than the full gram stream. (A higher-order-function
    * formulation is NOT equivalent at scale: Catalyst's projection
    * collapse inlines the hash-array child into every element access
    * and re-runs the tokenizer per window element — measured ~40x
    * slower at sf0.1.) */
  def winnowPrints(docs: DataFrame, k: Int = 5, w: Int = 4,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(w >= 2, "winnow window must cover at least 2 grams")
    docs
      .select(col(idCol), explode(graft.functions.SketchExprs
        .winnowPrints(col(textCol), k, w)).as("_pr"))
      .select(col(idCol),
        col("_pr").getField("pos").cast("long").as("pos"),
        col("_pr").getField("h").as("print_hash"))
  }

  /** Near-dup candidate pairs from shared winnowed fingerprints —
    * the MOSS match step at corpus scale: docs sharing at least
    * `minShared` DISTINCT selected prints. Prints whose total
    * occurrence count exceeds `maxDf` are dropped first (the
    * standard high-frequency-print ignore: boilerplate grams would
    * otherwise fan the self-join out quadratically — the same skew
    * bound as LSH bucket caps). Only 8-byte print hashes shuffle;
    * the self-join is keyed on the winnowed (≈ `1/w`-density,
    * df-capped) print stream, not the corpus. */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                  minShared: Long = 2, maxDf: Long = 50,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    graft.cache.Pins.track(docs.sparkSession,
      winnowPairsManaged(docs, k, w, minShared, maxDf, textCol,
        idCol)).value

  /** [[winnowPairs]] with an explicit cache lifecycle: the persisted
    * print stream backing the returned plan is released by `close()`
    * — the unmanaged shorthand tracks its pin in
    * [[graft.cache.Pins]] instead. */
  private[graft] def winnowPairsManaged(docs: DataFrame, k: Int = 5, w: Int = 4,
                                        minShared: Long = 2, maxDf: Long = 50,
                                        textCol: String = "text",
                                        idCol: String = "doc_id")
      : graft.access.Split.Branches[DataFrame] = {
    // persist the winnowed prints: ~1/w of the gram stream, 16-byte
    // rows — consumed three times (df cap + both join sides); without
    // the persist each consumer re-runs the scan + kernel. At 100 TB
    // the prints are the parquet fingerprint layer you'd write once
    // per corpus snapshot.
    val pr = winnowPrints(docs, k, w, textCol, idCol)
      .select(col(idCol).as("_id"), col("print_hash").as("_h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = pr.groupBy(col("_h"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxDf)
      .select(col("_h"))
    val keep = pr.join(rare, Seq("_h"))
    val result = keep.as("a")
      .join(keep.as("b"),
        col("a._h") === col("b._h") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count_distinct(col("a._h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    graft.access.Split.Branches(result, pr)
  }

  /** Cross-doc attribution report over the winnowed fingerprints —
    * the MOSS result page as a relation: for every candidate pair,
    * the DISTINCT shared print count plus each side's own print
    * count and the COVERAGE fraction `n_shared / n_prints` (the
    * "percent matched" both directions — near-1 coverage of the
    * smaller side is containment/plagiarism, symmetric mid coverage
    * is shared boilerplate). Same selection, df cap and `minShared`
    * cut as [[winnowPairs]]; the per-doc print counts come from the
    * SAME capped stream, so coverages are internally consistent.
    *
    * Scale shape: identical to [[winnowPairs]] (one fused zero-
    * shuffle fingerprint scan, persisted ~1/w print stream, 8-byte
    * hash joins); the additions are a doc-keyed distinct + count
    * (corpus-sublinear) and two id-keyed joins AQE broadcasts. */
  def winnowReport(docs: DataFrame, k: Int = 5, w: Int = 4,
                   minShared: Long = 2, maxDf: Long = 50,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    graft.cache.Pins.track(docs.sparkSession, {
      val pr = winnowPrints(docs, k, w, textCol, idCol)
        .select(col(idCol).as("_id"), col("print_hash").as("_h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rare = pr.groupBy(col("_h"))
        .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxDf)
        .select(col("_h"))
      val keepd = pr.join(rare, Seq("_h"))
        .select(col("_id"), col("_h")).distinct()
      val dc = keepd.groupBy(col("_id"))
        .agg(count(lit(1)).as("_np"))
      val pairs = keepd.as("a")
        .join(keepd.as("b"),
          col("a._h") === col("b._h") && col("a._id") < col("b._id"))
        .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
      val result = pairs
        .join(dc.select(col("_id").as("id_a"),
          col("_np").as("n_prints_a")), Seq("id_a"))
        .join(dc.select(col("_id").as("id_b"),
          col("_np").as("n_prints_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("n_shared"),
          col("n_prints_a"), col("n_prints_b"),
          round(col("n_shared").cast("double") /
            col("n_prints_a").cast("double"), 6).as("cov_a"),
          round(col("n_shared").cast("double") /
            col("n_prints_b").cast("double"), 6).as("cov_b"))
      graft.access.Split.Branches(result, pr)
    }).value

  /** Per-source boilerplate removal — the template/navigation-chrome
    * strip of web curation pipelines (CCNet dedups common lines per
    * shard; RefinedWeb strips site chrome): a chunk is boilerplate
    * for a SOURCE when it appears in at least `minDocs` docs AND at
    * least `tau` fraction of that source's docs — a relative,
    * group-local criterion, unlike [[chunkDedup]]'s global absolute
    * frequency cut. Every occurrence of a boilerplate chunk is
    * removed from every doc of the source (templates have no
    * canonical copy worth keeping); returns the doc id/group plus
    * `text_clean` and `n_chunks_removed`. Token chunks stand in for
    * lines ([[tokenChunks]] — the corpus has no line structure).
    *
    * Scale shape: chunk content rides as 64-bit hashes; the per-source
    * df aggregates `(group, hash, doc)` distincts with map-side
    * combine; qualifying templates are a tiny relation joined back on
    * `(group, hash)`; only boilerplate (doc, pos) hits ride the join
    * onto the corpus (sparse for a mostly-clean corpus, AQE
    * broadcasts); untouched docs take the null fast path without
    * re-tokenizing. Group sizes are |groups|-sized (broadcast). */
  def stripSourceBoilerplate(docs: DataFrame, chunkTokens: Int = 10,
                             minDocs: Long = 2, tau: Double = 0.08,
                             groupCol: String = "source",
                             textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame = {
    val chunks = docs.select(col(idCol), col(groupCol).as("_g"),
        posexplode(tokenChunks(col(textCol), chunkTokens))
          .as(Seq("_pos", "_c")))
      .select(col(idCol), col("_g"), col("_pos"),
        xxhash64(col("_c")).as("_h"))
    val sizes = docs.groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_nd"))
    val dfRel = chunks.select(col("_g"), col("_h"), col(idCol))
      .distinct()
      .groupBy(col("_g"), col("_h"))
      .agg(count(lit(1)).as("_df"))
    val boiler = dfRel.join(sizes, Seq("_g"))
      .filter(col("_df") >= minDocs &&
        col("_df").cast("double") / col("_nd").cast("double") >= tau)
      .select(col("_g"), col("_h"))
    val badPos = chunks.join(boiler, Seq("_g", "_h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_pos"))).as("_bad"))
    docs.join(badPos, Seq(idCol), "left")
      .withColumn("text_clean",
        when(col("_bad").isNull, col(textCol))
          .otherwise(array_join(filter(
            tokenChunks(col(textCol), chunkTokens),
            (c, i) => !array_contains(col("_bad"), i)), " ")))
      .withColumn("n_chunks_removed",
        coalesce(size(col("_bad")), lit(0)).cast("long"))
      .drop("_bad")
  }

  /** Per-group exact-dedup savings report — the ops dashboard a
    * dedup run publishes: per source, how many docs are non-canonical
    * exact copies (representative = globally-first id, so a doc
    * duplicating ANOTHER source's content counts against its own
    * source) and how many characters a dedup pass saves. The
    * decision input for source weighting: a 40%-duplicate source is
    * over-represented before mixing even starts.
    *
    * Scale: one window over 64-bit content hashes (group sizes =
    * duplicate multiplicity, bounded) + one group-by; text never
    * shuffles beyond its content hash. */
  def dedupStats(docs: DataFrame, groupCol: String = "source",
                 textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(xxhash64(col(textCol)))
      .orderBy(col(idCol).asc)
    docs.withColumn("_rn", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_rn") === 1, 0L).otherwise(1L)).as("n_dup_docs"),
        sum(length(col(textCol)).cast("long")).as("chars_total"),
        sum(when(col("_rn") === 1, 0L)
          .otherwise(length(col(textCol)).cast("long")))
          .as("chars_dup"))
      .withColumn("dup_frac",
        round(col("n_dup_docs").cast("double") /
          col("n_docs").cast("double"), 6))
  }

  /** Batch novelty vs a standing corpus — the incremental-ingest
    * health gauge: for every doc of a NEW batch, the fraction of its
    * distinct `n`-token window-grams never seen in the standing
    * corpus (crawl refreshes full of already-ingested content score
    * near 0; genuinely new material near 1). The two-corpus analog
    * of [[rareNgramStats]] and the content-level complement of
    * [[minHashPairsAgainst]]'s doc-level incremental dedup.
    *
    * Scale shape: both sides ride 60-bit hashes from the positional
    * kernel with row-local per-doc distincts; the corpus-side
    * distinct is the one corpus-sized aggregate (in production: read
    * the persisted gram layer instead — the same artifact the
    * substring-dedup family maintains) and the seen-check is a
    * hash-keyed LEFT join on the gram hash. The left (batch) side of
    * an outer join is not broadcast-eligible, so this runs as a
    * shuffle join co-partitioned with the corpus distinct — the
    * batch side is small, the shuffle is gram-keyed on both sides,
    * and a semi/anti pair (which COULD broadcast the batch) would
    * scan the corpus layer twice; one shuffled pass is the cheaper
    * shape. */
  def batchNovelty(corpus: DataFrame, batch: DataFrame, n: Int = 8,
                   tau: Double = 0.5, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val bg = batch.select(col(idCol), explode(array_distinct(
        graft.functions.SketchExprs.windowHashes(col(textCol), n)))
      .as("_h"))
    val cg = corpus.select(explode(array_distinct(
        graft.functions.SketchExprs.windowHashes(col(textCol), n)))
      .as("_h")).distinct()
    bg.join(cg.withColumn("_seen", lit(1)), Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_frac",
        round(col("n_novel").cast("double") /
          col("n_grams").cast("double"), 6))
      .withColumn("is_novel", col("novelty_frac") >= tau)
  }

  /** Rare-n-gram exposure stats — the memorization / privacy gate a
    * curation stage runs before training (Carlini et al.'s
    * memorization studies key on sequences that occur once or a
    * handful of times corpus-wide). For every doc with at least one
    * `n`-token window: the count of DISTINCT window-grams, how many
    * of those are globally unique (`df == 1`), how many are rare
    * (`df <= rareMax`), the rare fraction, and a `high_exposure`
    * verdict (`rare_frac >= tau`) — the docs whose content the model
    * could only have seen here.
    *
    * Scale shape: grams ride as 60-bit hashes from the native
    * positional kernel ([[graft.functions.SketchExprs.windowHashes]]
    * — XXH64 in production, md5-60 under oracle verification); the
    * per-doc distinct is row-local (`array_distinct` before the
    * explode), so the only shuffles are the hash-keyed df aggregate
    * and the hash-keyed join back — text never shuffles, and the df
    * relation is vocabulary-sized, not corpus-sized. */
  def rareNgramStats(docs: DataFrame, n: Int = 8, rareMax: Long = 2,
                     tau: Double = 0.5, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol), explode(array_distinct(
        graft.functions.SketchExprs.windowHashes(col(textCol), n)))
      .as("_h"))
    val df = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_df"))
    grams.join(df, Seq("_h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("_df") <= rareMax, 1L).otherwise(0L))
          .as("n_rare"))
      .withColumn("rare_frac",
        round(col("n_rare").cast("double") /
          col("n_grams").cast("double"), 6))
      .withColumn("high_exposure", col("rare_frac") >= tau)
  }
}
