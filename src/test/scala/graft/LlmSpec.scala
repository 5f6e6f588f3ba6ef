package graft

import graft.llm._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the sketch-based LLM operators that have no SQL
  * oracle: recall against brute-force ground truth on the real
  * testdata, plus planted-duplicate assertions on synthetic docs. */
class LlmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.01"
  def docs = spark.read.parquet(s"$sf/documents.parquet")
  def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH recalls all high-jaccard pairs (>=0.5 ground truth)") {
    val truth = pairSet(Dedup.jaccardPairsBrute(docs, n = 3, threshold = 0.5))
    assert(truth.nonEmpty, "testdata must contain planted near-dups")
    val found = pairSet(Dedup.minHashPairs(docs, threshold = 0.35))
    val recall = truth.count(found).toDouble / truth.size
    assert(recall >= 0.95, s"minhash recall $recall over ${truth.size} pairs")
  }

  test("minhash est_jaccard approximates true jaccard (planted dup)") {
    import spark.implicits._
    // 100 distinct words -> 98 distinct 3-shingles; one word changed
    // -> true jaccard ~0.94, so the estimate is far from the threshold
    val base = (0 until 100).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w50", "changed")
    val other = (0 until 100).map(i => s"z$i").mkString(" ")
    val planted = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(planted, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(pairs.map(_._1).toSet == Set((1L, 2L)),
      "only the planted near-dup pair should match")
    assert(pairs.head._2 > 0.7)
  }

  test("verifiedNearDupPairs: small edit verifies, shared-vocab " +
       "shuffle is rejected with the -1 sentinel") {
    import spark.implicits._
    val base = (0 until 100).map(i => s"w$i").mkString(" ")
    // one word changed: tiny edit distance -> verified at tau=0.8
    val nearDup = base.replace("w50", "wxx")
    // same 100-word vocabulary, reversed order: high Jaccard on
    // 1-shingles-of-3 still collides in LSH occasionally? no — use
    // a doc built from the same words but fully reordered so many
    // 3-shingles differ yet minhash overlap stays high enough to
    // candidate at the permissive threshold; its EDIT distance from
    // base is large, so verification must reject it.
    val shuffled = (0 until 100).map(i => s"w${(i * 37) % 100}")
      .mkString(" ")
    val planted = Seq((1L, base), (2L, nearDup), (3L, shuffled))
      .toDF("doc_id", "text")
    val out = Dedup.verifiedNearDupPairs(planted, tau = 0.8,
        estThreshold = 0.05)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(3), r.getAs[Any]("edit_sim"), r.getBoolean(5))))
      .toMap
    assert(out.contains((1L, 2L)), "planted near-dup must candidate")
    val (d12, s12, v12) = out((1L, 2L))
    assert(v12 && d12 >= 1 && d12 <= 3, s"small edit: dist $d12")
    assert(s12.asInstanceOf[Double] > 0.99)
    // any candidate involving the reordered doc must fail verify
    out.filterKeys(k => k._1 == 3L || k._2 == 3L).foreach {
      case (k, (d, s, v)) =>
        assert(!v && d == -1 && s == null,
          s"reordered doc pair $k must be rejected, got ($d, $s, $v)")
    }
  }

  test("verifiedNearDupPairs: real-corpus verified set is the " +
       "edit-sim filter of the candidate set") {
    val cand = Dedup.minHashPairs(docs, threshold = 0.35)
    val ver = Dedup.verifiedNearDupPairs(docs, tau = 0.8,
      estThreshold = 0.35)
    assert(ver.count() == cand.count(),
      "one verification row per candidate")
    // thresholded-kernel sentinel agrees with the full-distance rule
    val full = ver.filter(col("verified"))
      .select(col("id_a"), col("id_b")).collect().toSet
    assert(full.nonEmpty, "testdata's planted dups must verify")
  }

  test("knLmScore: discount, backoff, and unseen-history arms match " +
       "the closed-form values on a planted fixture") {
    import spark.implicits._
    // train "a b a c": cb {ab,ba,ac}=1; hist a:(c1 2,n1f 2) b:(1,1);
    // every continuation n1b=1; nbb=3; V = 3 types + 1 = 4 => Pc(seen)
    // = 2/7, Pc(unseen) = 1/7
    val train = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b"),  // seen bigram: (1-0.75)/2 + 0.75*2/2 * 2/7
      (11L, "a a"),  // unseen bigram, seen history: 0.75*2/2 * 2/7
      (12L, "z a"),  // unseen history: Pc(a) = 2/7
      (13L, "z q")   // unseen history + continuation: 1/7
    ).toDF("doc_id", "text")
    val out = TextAnalysis.knLmScore(score, train)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pcSeen = 2.0 / 7.0
    val exp = Map(
      10L -> r6(math.log(0.25 / 2.0 + 0.75 * 2.0 / 2.0 * pcSeen)),
      11L -> r6(math.log(0.0 + 0.75 * 2.0 / 2.0 * pcSeen)),
      12L -> r6(math.log(pcSeen)),
      13L -> r6(math.log(1.0 / 7.0)))
    exp.foreach { case (id, lp) =>
      assert(out(id)._1 == 1L, s"doc $id has one bigram")
      assert(math.abs(out(id)._2 - lp) < 1e-9,
        s"doc $id: got ${out(id)._2}, want $lp")
      assert(math.abs(out(id)._3 - r6(math.exp(-out(id)._2))) < 1e-9)
    }
    // ordering sanity: the in-distribution doc outscores the OOV one
    assert(out(10L)._2 > out(13L)._2)
  }

  test("knLmScore: P(.|h) is a PROPER distribution — per history the " +
       "probabilities over train types + one OOV token sum to 1") {
    import spark.implicits._
    // algebra: sum over seen w2 of max(c-d,0)/c1 = 1 - d*n1f/c1, and
    // the add-one continuation Pc sums to exactly 1 over the V-domain
    // (train types + the OOV type), so the interpolated sum is 1 per
    // history - for the UNSEEN history too (pure Pc). Checked on
    // three deterministic pseudo-random corpora.
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val types = (0 until (5 + trial * 3)).map(i => s"t$i")
      val corpus = (1 to 6).map { d =>
        (d.toLong, Seq.fill(8 + rng.nextInt(8))(
          types(rng.nextInt(types.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val domain = types :+ "OOVTOK"
      val probes = (types :+ "UNSEENH").zipWithIndex.flatMap {
        case (h, hi) => domain.zipWithIndex.map { case (w, wi) =>
          (hi * 1000L + wi, s"$h $w", h)
        }
      }.toDF("doc_id", "text", "hist")
      val scored = TextAnalysis.knLmScore(probes, corpus)
        .join(probes.select(col("doc_id"), col("hist")), Seq("doc_id"))
        .select(col("hist"), exp(col("avg_logprob")).as("p"))
        .groupBy(col("hist")).agg(sum(col("p")).as("total"))
        .collect().map(r => r.getString(0) -> r.getDouble(1))
      assert(scored.nonEmpty)
      scored.foreach { case (h, tot) =>
        assert(math.abs(tot - 1.0) < 1e-3,
          s"trial $trial history '$h': probabilities sum to $tot")
      }
    }
  }

  test("bitextMine: planted translations pair up; the hub vector " +
       "does not steal matches") {
    import spark.implicits._
    val a = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val h = (math.sqrt(0.5)).toFloat
    val b = Seq(
      (10L, Array(1.0f, 0.0f)),   // exact counterpart of a1
      (11L, Array(h, h)),          // hub: cos 0.707 to BOTH a vectors
      (12L, Array(0.0f, 1.0f)))    // exact counterpart of a2
      .toDF("vec_id", "embedding")
    val out = Similarity.bitextMine(a, b, k = 2, minMargin = 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toMap
    // the hub's own neighborhood average is high, so its margin is
    // deflated; the exact counterparts win and are mined
    assert(out(1L)._1 == 10L && out(1L)._3, s"got ${out(1L)}")
    assert(out(2L)._1 == 12L && out(2L)._3, s"got ${out(2L)}")
    assert(out(1L)._2 > 1.0 && out(2L)._2 > 1.0)
  }

  test("embedContamination: planted duplicate eval vector flags, " +
       "orthogonal one does not") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val eval = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),   // exact copy of corpus #1
      (101L, Array(0.0f, 0.0f, 1.0f)))   // orthogonal to everything
      .toDF("vec_id", "embedding")
    val out = Similarity.embedContamination(corpus, eval, tau = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(100L) == ((1L, 1.0, true)))
    assert(out(101L)._2 == 0.0 && !out(101L)._3)
  }

  test("ngramDiversity: repeated text collapses the ratio; distinct " +
       "text keeps it at 1") {
    import spark.implicits._
    val planted = Seq(
      ("rep", "a b a b a b a b"),        // 2 distinct unigrams / 8
      ("uni", "w x y z")                 // all windows distinct
    ).toDF("source", "text")
    val out = TextAnalysis.ngramDiversity(planted)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("rep", 1)) == ((8L, 2L, 0.25)))
    assert(out(("rep", 2)) == ((7L, 2L, math.rint(2.0 / 7 * 1e6) / 1e6)))
    assert(out(("uni", 1)) == ((4L, 4L, 1.0)))
    assert(out(("uni", 3)) == ((2L, 2L, 1.0)))
  }

  test("simhash: identical docs at distance 0; banding finds them") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val planted = Seq((1L, a), (2L, a), (3L, "totally different tokens xyz"))
      .toDF("doc_id", "text")
    val sh = Dedup.simHash(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val pairs = pairSet(Dedup.simHashPairs(planted, maxDist = 3))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("connectedComponents labels planted clusters correctly") {
    import spark.implicits._
    // two chains (1-2-3, 10-11) and a singleton edge pair (20-21):
    // transitivity must label 3 with 1 even though (1,3) is no edge
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    // both strategies must agree: driver union-find (small edge sets)
    // and distributed hash-min (forced via driverThreshold = 0)
    for (threshold <- Seq(2000000L, 0L)) {
      val comps = Dedup.connectedComponents(pairs,
        driverThreshold = threshold).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
      assert(comps(10L) == 10L && comps(11L) == 10L)
      assert(comps(20L) == 20L && comps(21L) == 20L)
    }
  }

  test("connectedComponents reliable-checkpoint mode matches local mode") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-cc-ck").toString
    try {
      // distributed path forced (driverThreshold = 0) with reliable
      // checkpoint(): same labels, and the frame survives Pins.release
      // (no consume-before-release constraint in this mode)
      val comps = Dedup.connectedComponents(pairs, driverThreshold = 0L,
        checkpointDir = Some(ckDir))
      graft.cache.Pins.release(spark)
      val m = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
      assert(m(10L) == 10L && m(11L) == 10L)
      assert(m(20L) == 20L && m(21L) == 20L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(ckDir)); ()
    }
  }

  test("connectedComponents reliable mode checkpoints into exactly " +
       "the caller's dir, not a sibling sharing its prefix") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val root = java.nio.file.Files
      .createTempDirectory("graft-cc-sib").toString
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    try {
      def parent = sc.getCheckpointDir
        .map(c => new org.apache.hadoop.fs.Path(c).getParent.toUri.getPath)
      // the context already points at `ck2/<uuid>`; a run asking for
      // `ck` must move it, though "ck2/..." contains "ck"
      sc.setCheckpointDir(s"$root/ck2")
      Dedup.connectedComponents(pairs, driverThreshold = 0L,
        checkpointDir = Some(s"$root/ck")).collect()
      assert(parent.contains(s"$root/ck"), s"checkpoint dir: $parent")
      // and a run asking for the current dir keeps it
      val current = sc.getCheckpointDir
      Dedup.connectedComponents(pairs, driverThreshold = 0L,
        checkpointDir = Some(s"$root/ck/")).collect()
      assert(sc.getCheckpointDir == current)
    } finally {
      before.foreach(d => sc.setCheckpointDir(
        new org.apache.hadoop.fs.Path(d).getParent.toString))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root)); ()
    }
  }

  test("nearDupDedup keeps one representative per duplicate cluster") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val nearA = base.replace("tok30", "changedA")   // ~dup of base
    val nearB = base.replace("tok31", "changedB")   // ~dup of base (chain)
    val other = (0 until 60).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearA), (3L, nearB), (4L, other))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDupDedup(docs, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), s"got $kept")
  }

  test("hyperplane LSH recalls most cosine>=0.4 pairs") {
    val truth = pairSet(Dedup.embeddingPairsBrute(emb, threshold = 0.4))
    assert(truth.nonEmpty)
    val found = pairSet(Similarity.lshCosinePairs(emb, threshold = 0.4))
    val recall = truth.count(found).toDouble / truth.size
    assert(recall >= 0.7, s"LSH recall $recall over ${truth.size} pairs")
    // no false positives: every reported pair really clears the bar
    assert(found.subsetOf(pairSet(
      Dedup.embeddingPairsBrute(emb, threshold = 0.4))))
  }

  test("videoPhashFrames: 4 sampled frame slots per clip, stable " +
       "hashes, identical clips collide and differing clips do not") {
    import spark.implicits._
    def frame(w: Int, h: Int, seed: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 31 + y * 17 + seed * 97) % 200 + 20) *
          0x010101)
      img
    }
    def gif(seed: Int) = Multimodal.encodeGif(
      (0 until 6).map(f => frame(18, 16, seed + f * 3)))
    val blobs = Multimodal.asBlobs(
      Seq((1L, gif(0)), (2L, gif(0)), (3L, gif(50)))
        .toDF("media_id", "b"), "media_id", "b", "video")
    val sigs = Multimodal.videoPhashFrames(blobs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // 4 sampled slots per clip regardless of clip length
    assert(sigs.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq ==
      Seq(0, 1, 2, 3)), s"slots: ${sigs.toSeq}")
    def sig(id: Long) = sigs.filter(_._1 == id).sortBy(_._2).map(_._3).toSeq
    assert(sig(1L) == sig(2L), "identical clips must collide slot-wise")
    assert(sig(1L) != sig(3L), "different content must separate")
    // determinism: a rerun is bit-identical
    val again = Multimodal.videoPhashFrames(blobs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(again.sameElements(sigs.sorted))
  }

  test("hyperplane LSH recall contract holds at a SECOND corpus " +
       "scale (different lshAutoConfig operating point)") {
    // the sf0.01 test pins recall at the small-corpus auto config;
    // this pins it at sf0.1's (10x vectors -> more planes / other
    // table count), so the auto-geometry recall contract is proven
    // at two operating points rather than extrapolated from one
    val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val truth = pairSet(Dedup.embeddingPairsBrute(emb01, threshold = 0.4))
    assert(truth.nonEmpty)
    val found = pairSet(Similarity.lshCosinePairs(emb01, threshold = 0.4))
    val recall = truth.count(found).toDouble / truth.size
    assert(recall >= 0.7,
      s"LSH recall $recall over ${truth.size} pairs at sf0.1")
    assert(found.subsetOf(truth),
      "every reported pair must really clear the cosine bar")
  }

  test("public utility faces hold their direct contracts (the " +
       "no-dark-faces sweep: every face CoreSpec's inventory gate " +
       "flags gets a by-name pin here)") {
    import spark.implicits._
    def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
      spark.range(1).select(c).head()
    // gopherStats: the native kernel's struct backs gopherKeep
    val gs = one(TextAnalysis.gopherStats(lit("aa bb aa")))
      .getStruct(0)
    assert(gs.length > 0, s"gopherStats struct: $gs")
    // sigSimilarity: fraction of agreeing minhash positions
    assert(one(Dedup.sigSimilarity(
      array(lit(1L), lit(2L), lit(3L), lit(4L)),
      array(lit(1L), lit(2L), lit(9L), lit(4L)))).getDouble(0) == 0.75)
    // pctBucket/hashBucket32: stable [0,100) buckets
    val bkt = docs.select(col("doc_id"),
      Sampling.pctBucket(col("text")).as("b"),
      (Sampling.hashBucket32(col("text")) % 100).as("b2")).collect()
    assert(bkt.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 100))
    assert(bkt.forall(r => r.getLong(1) == r.getLong(2)),
      "pctBucket must be hashBucket32 mod 100")
    // bindOnce: the lambda sees the bound value; compute once, use twice
    assert(one(VectorOps.bindOnce(lit(3))(v => v * v + v)).getInt(0) == 12)
    // cosineHoisted: the hoisted-norms form (na/nb are the PRE-SQRT'D
    // per-row norms, computed once per side) must equal the literal
    // cosine when fed exact norms
    val va = array(lit(1.0f), lit(0.0f))
    val vb = array(lit(1.0f), lit(1.0f))
    val cosGot = one(round(VectorOps.cosineHoisted(va, vb,
      sqrt(VectorOps.normSq(va)), sqrt(VectorOps.normSq(vb))), 6))
      .getDouble(0)
    assert(cosGot == BigDecimal(1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$cosGot")
    // bm25AutoSliceM: floors, log growth, cap, and the k floor that
    // must survive the cap
    assert(TextAnalysis.bm25AutoSliceM(5, 0L) == 64)
    assert(TextAnalysis.bm25AutoSliceM(50, 0L) == 200, "4k floor")
    assert(TextAnalysis.bm25AutoSliceM(5, 1_000_000L) ==
      32 * math.ceil(math.log(1002.0) / math.log(2.0)).toInt)
    assert(TextAnalysis.bm25AutoSliceM(2000, 0L) == 4096,
      "the cap binds when the 4k floor would exceed it (k <= cap)")
    assert(TextAnalysis.bm25AutoSliceM(5000, Long.MaxValue / 2) == 5000,
      "a k above the cap must still seed the top-k")
    val depths = Seq(1L, 10_000L, 10_000_000L, 1_000_000_000L)
      .map(TextAnalysis.bm25AutoSliceM(5, _))
    assert(depths == depths.sorted, "monotone in corpus size")
    // randProjectVec == randProject, element for element (the array
    // form rounds only at the consumer; compare at round-6)
    val scalar = Similarity.randProject(emb, outDim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val arr = Similarity.randProjectVec(emb, outDim = 4).collect()
    arr.foreach { r =>
      val id = r.getLong(0)
      r.getSeq[Double](1).zipWithIndex.foreach { case (v, k) =>
        val got = BigDecimal(v).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got == scalar((id, k.toLong)),
          s"vec/scalar diverge at ($id, $k)")
      }
    }
    // unigramModel / unigramModelWith: deterministic driver-state
    // model, pieces bounded by maxPieceLen, log-probs <= 0, and the
    // exercised unigramTrain face is exactly this model as rows
    val m1 = TextAnalysis.unigramModel(docs, vocabSize = 20,
      maxPieceLen = 2, iters = 1)
    assert(m1.nonEmpty && m1.forall(p => p._1.length <= 2 && p._3 <= 0.0))
    assert(m1.sameElements(TextAnalysis.unigramModelWith(docs,
      vocabSize = 20, maxPieceLen = 2, iters = 1, prune = false)))
    val trained = TextAnalysis.unigramTrain(docs, vocabSize = 20,
      maxPieceLen = 2, iters = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(trained == m1.map(p => (p._1, p._2)).toSet)
    // jaccardPairsPrefixManaged: the Managed lifecycle face — same
    // pairs as the tracked form, pinned shingle cache released on close
    import org.apache.spark.storage.StorageLevel
    val handle = Dedup.jaccardPairsPrefixManaged(docs, n = 3,
      threshold = 0.5)
    assert(pairSet(handle.value) ==
      pairSet(Dedup.jaccardPairsPrefix(docs, n = 3, threshold = 0.5)))
    assert(handle.parent.storageLevel != StorageLevel.NONE)
    handle.close()
    assert(handle.parent.storageLevel == StorageLevel.NONE,
      "close() must release the shingle cache")
    graft.cache.Pins.release(spark)
  }

  test("tokenBudgetSample: bucketed plan == windowed reference plan") {
    val budgets = Map("en" -> 20000L, "es" -> 5000L, "zh" -> 5000L,
      "de" -> 1L, "fr" -> 0L)   // tiny/zero budgets hit the cutoff edge
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val bucketed = ids(Mixing.tokenBudgetSample(docs, budgets))
    val windowed = ids(Mixing.tokenBudgetSampleWindowed(docs, budgets))
    assert(bucketed == windowed,
      s"bucketed/windowed diverge: only-bucketed=${bucketed diff windowed} " +
        s"only-windowed=${windowed diff bucketed}")
    // a coarse bucket count forces real cutoff buckets (many docs share
    // a bucket) — the boundary-window path must still agree
    val coarse = ids(Mixing.tokenBudgetSample(docs, budgets, nBuckets = 4))
    assert(coarse == windowed, "coarse-bucket path diverges")
  }

  test("ivfAutoCells: cell population stays ~targetCell as the corpus " +
       "grows; clamped to [4, 65536]") {
    // deployment geometry: probed candidate mass = nProbe * targetCell
    // must not grow with the corpus (the 64x serve finding)
    assert(Similarity.ivfAutoCells(2000L) == 8)
    assert(Similarity.ivfAutoCells(128000L) == 500)
    // expected population within 2x of target below the ceiling
    // (ceiling hit at targetCell * 65536 ≈ 16.7M vectors)
    Seq(10_000L, 100_000L, 1_000_000L, 10_000_000L)
      .foreach { n =>
        val c = Similarity.ivfAutoCells(n)
        val pop = n.toDouble / c
        assert(pop <= 256.0 && pop >= 128.0,
          s"n=$n cells=$c pop=$pop outside [128, 256]")
      }
    // clamps: the floor, and the broadcastability ceiling past which
    // cell population grows again (the documented trade-off — raise
    // targetCell or shard the index family at that scale)
    assert(Similarity.ivfAutoCells(1L) == 4)
    assert(Similarity.ivfAutoCells(100_000_000L) == (1 << 16))
    assert(Similarity.ivfAutoCells(Long.MaxValue / 4) == (1 << 16))
    // monotone non-decreasing in n
    val cs = Seq(1L, 1000L, 10_000L, 10_000_000L)
      .map(Similarity.ivfAutoCells(_))
    assert(cs == cs.sorted)
  }

  test("lshAutoConfig: reproduces measured configs; density stays bounded") {
    // the two measured BASELINE.md points: small corpus -> the
    // recall-first 4-plane config, 32k corpus -> the ~96x8 point
    val (t1, p1) = Similarity.lshAutoConfig(2000L, 0.4)
    assert(p1 == 4 && t1 >= 12 && t1 <= 18, s"got ${t1}x$p1")
    val (t2, p2) = Similarity.lshAutoConfig(32000L, 0.4)
    assert(p2 == 8 && t2 >= 80 && t2 <= 110, s"got ${t2}x$p2")
    // planes grow with n so expected bucket occupancy n/2^planes stays
    // bounded — the anti-quadratic property
    Seq(1000L, 100000L, 10000000L, 1000000000L).foreach { n =>
      val (_, p) = Similarity.lshAutoConfig(n, 0.4)
      assert(n.toDouble / math.pow(2, p) <= 128.0 || p == 24,
        s"bucket occupancy unbounded at n=$n (planes=$p)")
    }
    // a tighter threshold (higher p) needs fewer tables at equal planes
    val (tLoose, _) = Similarity.lshAutoConfig(32000L, 0.4)
    val (tTight, _) = Similarity.lshAutoConfig(32000L, 0.8)
    assert(tTight < tLoose)
  }

  test("lshCosinePairsManaged: close() releases the bucket cache") {
    import org.apache.spark.storage.StorageLevel
    val handle = Similarity.lshCosinePairsManaged(emb, threshold = 0.4)
    assert(handle.value.count() > 0)
    assert(handle.parent.storageLevel != StorageLevel.NONE,
      "bucket projection must be pinned while the plan is live")
    handle.close()
    assert(handle.parent.storageLevel == StorageLevel.NONE,
      "close() must leave zero live cache entries")
  }

  test("IVF top-k: self is rank 1; decent recall vs brute force") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = Similarity.bruteTopK(emb, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every query vector is in the corpus: rank 1 must be itself
    ivf.filter(_._2 == 1L).foreach { case (q, _, v) => assert(q == v) }
    val bruteSet = brute.map(t => (t._1, t._3)).toSet
    val overlap = ivf.map(t => (t._1, t._3)).count(bruteSet)
    val recall = overlap.toDouble / bruteSet.size
    assert(recall >= 0.3, s"IVF recall@10 = $recall (probing 4/16 cells)")
  }

  test("capPerStratum: cap respected, deterministic, partition-independent") {
    val capped = Mixing.capPerStratum(docs, k = 7)
    val bySrc = capped.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.forall(_ <= 7) && bySrc.values.exists(_ == 7),
      s"every source capped at 7, full sources hit the cap: $bySrc")
    // content-hash keep order is a pure function of the data: a
    // repartitioned input must keep exactly the same documents
    val ids = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Mixing.capPerStratum(docs.repartition(13), k = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ids2)
    // and it is NOT "first k by id" — hash order differs from id order
    val firstK = Mixing.bestPerStratum(docs, 7, strataCol = "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids != firstK)
  }

  test("sourceStats: shares sum to ~1 and track doc mass") {
    val st = Mixing.sourceStats(docs).collect()
    val share = st.map(_.getDouble(3)).sum
    assert(math.abs(share - 1.0) < 1e-4, s"shares sum to $share")
    assert(st.map(_.getLong(1)).sum == docs.count())
  }

  test("semDedup: kept set is the within-cell lower-id dominance fixpoint") {
    val cents = Similarity.kmeansCentroids(emb, nCells = 16, iters = 2)
    val kept = Similarity.semDedup(emb, cents, tau = 0.4)
      .collect().map(_.getLong(0)).toSet
    val assigned = Similarity.assignCells(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val n = assigned.length
    assert(kept.subsetOf(assigned.map(_._1).toSet) && kept.size < n,
      "some semantic dups must be dropped on the real testdata")
    // brute-force replay of the dominance rule per cell
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byCell = assigned.groupBy(_._2)
    val expectDropped = byCell.values.flatMap { members =>
      val ids = members.map(_._1).sorted
      ids.filter(i => ids.exists(j => j < i &&
        BigDecimal(cos(vecs(i), vecs(j))).setScale(6,
          BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.4")))
    }.toSet
    assert(kept == assigned.map(_._1).toSet -- expectDropped)
    // the globally lowest id can never be dominated
    assert(kept.contains(assigned.map(_._1).min))
  }

  test("ivfTopKIndexed: persisted layout matches in-memory IVF; " +
       "scan prunes unprobed cell partitions") {
    val indexDir = graft.Scratch.root + "/ivf_index"
    val cents = Similarity.collectCentroids(emb, 16)
    Similarity.ivfWriteIndex(emb, cents, indexDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val fromIndex = Similarity.ivfTopKIndexedAuto(spark, indexDir,
      queries, k = 10, nProbe = 4)
    val inMemory = Similarity.ivfTopKWith(cents, emb, queries, k = 10,
      nProbe = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows(fromIndex) == rows(inMemory))
    // the scan must carry the probed-cell partition filter — unprobed
    // cell_id= directories never reach the reader
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
      s"expected a cell_id partition filter in:\n$plan")
  }

  test("ivfBuildIndexAuto: the returned count is the SIDECAR's " +
       "actual centroid count and the auto-built index serves the " +
       "explicit-build answer") {
    val indexDir = graft.Scratch.root + "/ivf_auto_build"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(indexDir))
    val trained = Similarity.ivfBuildIndexAuto(emb, indexDir,
      targetCell = 64L, iters = 2)
    // the contract the deployment face publishes: callers log/assert
    // THE geometry that actually serves — Lloyd rounds may drop
    // empty cells, so the sidecar is the truth, not the request
    val sidecarN = scala.io.Source.fromFile(
        s"$indexDir/_centroids.txt").getLines()
      .count(_.trim.nonEmpty)
    assert(trained == sidecarN,
      s"returned $trained but the sidecar holds $sidecarN centroids")
    assert(trained <= Similarity.ivfAutoCells(emb.count(), 64L),
      "trained count can only shrink from the requested geometry")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val served = Similarity.ivfTopKIndexedAuto(spark, indexDir,
      queries, k = 5, nProbe = 4)
    // equivalent explicit build from the same trained centroids must
    // serve bit-identically (the auto face adds geometry, not math)
    val cents = Similarity.kmeansCentroids(emb,
      Similarity.ivfAutoCells(emb.count(), 64L), iters = 2)
    val explicitDir = graft.Scratch.root + "/ivf_auto_build_explicit"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(explicitDir))
    Similarity.ivfWriteIndex(emb, cents, explicitDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows(served) == rows(Similarity.ivfTopKIndexedAuto(spark,
      explicitDir, queries, k = 5, nProbe = 4)))
  }

  test("pqTopKIndexed: persisted code table matches inline ADC; the " +
       "indexed scan reads codes, never vectors") {
    val indexDir = graft.Scratch.root + "/pq_index"
    val books = Similarity.pqCodebooks(emb, m = 4, k = 16)
    Similarity.pqWriteIndex(emb, books, indexDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val fromIndex = Similarity.pqTopKIndexedAuto(spark, indexDir,
      queries, k = 10)
    val inline = Similarity.pqTopK(emb, queries, books, k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows(fromIndex) == rows(inline))
    // the corpus-side scan of the indexed plan is the code parquet:
    // its read schema must not include the embedding column
    val scanLines = fromIndex.queryExecution.executedPlan.toString
      .linesIterator.filter(l => l.contains("FileScan") &&
        l.contains("pq_index")).toSeq
    assert(scanLines.nonEmpty && scanLines.forall(
      !_.contains("embedding")),
      s"indexed scan must be code-width:\n${scanLines.mkString("\n")}")
  }

  test("kmeans centroids: deterministic across runs, improve IVF recall") {
    val c1 = Similarity.kmeansCentroidsUncached(emb, nCells = 16, iters = 2)
    val c2 = Similarity.kmeansCentroidsUncached(emb, nCells = 16, iters = 2)
    assert(c1 == c2, "decimal-exact means must be bit-reproducible")
    // and the train-once registry must hand back the same artifact
    assert(Similarity.kmeansCentroids(emb, nCells = 16, iters = 2) == c1)
    assert(c1.forall(_.length == 64))
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def recallOf(cents: Seq[Seq[Double]]): Double = {
      val got = Similarity.ivfTopKWith(cents, emb, queries, k = 10,
        nProbe = 4).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val brute = Similarity.bruteTopK(emb, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.count(brute).toDouble / brute.size
    }
    val seedRecall = recallOf(
      Similarity.collectCentroids(emb, 16))
    val kmRecall = recallOf(c1)
    assert(kmRecall >= seedRecall - 0.05,
      s"kmeans recall $kmRecall vs seed recall $seedRecall")
  }

  test("incremental dedup: exactly the cross-side slice of the full " +
       "pair set, no within-side pairs") {
    val full = pairSet(Dedup.minHashPairs(docs, threshold = 0.35))
    val cross = Dedup.minHashPairsAgainst(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }
    assert(cross == expected, s"cross=$cross expected=$expected")
    assert(cross.forall { case (n, c) => n % 10 == 0 && c % 10 != 0 })
  }

  test("repetition ratio: repetitive text scores high, varied text low") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "each word here is different from every other word present"),
      (3L, "ab"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(df(1L) > 0.8, s"all-identical 3-grams: ${df(1L)}")
    assert(df(2L) == 0.0)
    assert(df(3L) == 0.0) // under 3 tokens -> defined as 0
  }

  test("deterministic split: stable, partition-independent, ~weights") {
    val w = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    def splits(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        Sampling.splitColumn(col("text"), w).as("split"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val s1 = splits(docs)
    val s2 = splits(docs.repartition(13))
    assert(s1 == s2, "split must be a pure function of content")
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    val n = s1.size.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    assert(counts.keySet == Set("train", "val", "test"))
  }

  test("contamination: planted duplicates of benchmark docs are caught") {
    import spark.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon zeta and more"),
      (2L, "completely unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
    val hits = Contamination.contaminatedDocs(corpus, bench, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits.keySet == Set(1L), s"got $hits")
    assert(hits(1L) == 2L) // two distinct shared 5-grams
    val clean = Contamination.decontaminate(corpus, bench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("multimodal: extractFeatures is deterministic, schema-stable, " +
       "and batches per partition") {
    val blobs = Multimodal.asBlobs(docs.limit(50), "doc_id", "text", "image")
      .repartition(4)
    val f1 = Multimodal.extractFeatures(blobs)
    assert(f1.schema == Multimodal.featureSchema)
    val rows1 = f1.orderBy("media_id").collect()
    val rows2 = Multimodal.extractFeatures(blobs).orderBy("media_id").collect()
    assert(rows1.sameElements(rows2), "stub decoder must be deterministic")
    assert(rows1.length == 50)
    assert(rows1.forall(_.getSeq[Float](7).length == 8))
  }

  test("multimodal: ImageIO decoder reads REAL dimensions and " +
       "channel stats from PNG/BMP through the binaryFile path; " +
       "undecodable payloads fall back to the stub") {
    import spark.implicits._
    def encode(fmt: String, w: Int, h: Int,
               pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out),
        s"JDK must carry a $fmt encoder")
      out.toByteArray
    }
    // 4x2 PNG: left half pure red, right half pure blue
    val png = encode("png", 4, 2,
      (x, _) => if (x < 2) 0xFF0000 else 0x0000FF)
    // 3x3 BMP: uniform mid-gray
    val bmp = encode("bmp", 3, 3, (_, _) => 0x808080)
    val dir = new java.io.File(
      graft.Scratch.root + "/imageio_fixtures")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "a.png").toPath, png)
    java.nio.file.Files.write(
      new java.io.File(dir, "b.bmp").toPath, bmp)
    // the REAL ingestion path: binaryFile source -> partition-batched
    // decode with the JDK codec
    val feats = Multimodal.extractFeatures(
        Multimodal.readBlobs(spark, dir.toString, "image"),
        Multimodal.MediaDecoder.ImageIO)
      .collect()
    assert(feats.length == 2)
    val by = feats.map(r => (r.getInt(4), r.getInt(5)) -> r).toMap
    val third = (1.0 / 3.0).toFloat
    val p = by((4, 2))
    assert(p.getInt(6) == 1 && p.getLong(2) == png.length.toLong)
    assert(p.getSeq[Float](7) ==
      Seq(0.5f, 0.0f, 0.5f, third, third, third, third, third),
      s"red|blue 4x2 stats: ${p.getSeq[Float](7)}")
    val g = by((3, 3))
    val gray = (128.0 / 255.0).toFloat
    assert(g.getSeq[Float](7) == Seq.fill(8)(gray),
      s"uniform gray 3x3 stats: ${g.getSeq[Float](7)}")
    // a non-image payload under kind=image: the JDK codec returns
    // null and the decoder degrades to the deterministic stub
    val junk = Multimodal.asBlobs(
      Seq((9L, "definitely not a png")).toDF("doc_id", "text"),
      "doc_id", "text", "image")
    val real = Multimodal.extractFeatures(junk,
      Multimodal.MediaDecoder.ImageIO).head()
    val stub = Multimodal.extractFeatures(junk,
      Multimodal.MediaDecoder.Deterministic).head()
    assert(real == stub,
      "undecodable payloads must match the stub fallback exactly")
  }

  test("multimodal: AudioIO decoder reads REAL rate/channels/frames " +
       "and level stats from PCM WAV through the binaryFile path; " +
       "8-bit payloads convert; junk falls back to the stub") {
    import spark.implicits._
    def wav(rate: Float, channels: Int, bits: Int,
            pcm: Array[Byte]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        if (bits == 8)
          javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        else javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        rate, bits, channels, channels * bits / 8, rate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt,
        pcm.length / fmt.getFrameSize)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    def s16le(samples: Int*): Array[Byte] =
      samples.flatMap(s =>
        Seq((s & 0xFF).toByte, ((s >> 8) & 0xFF).toByte)).toArray
    // mono 8 kHz, 8 frames: half-amplitude square wave then silence
    val mono = wav(8000f, 1, 16,
      s16le(16384, -16384, 16384, -16384, 0, 0, 0, 0))
    // stereo 4 frames: ch0 steady +0.25, ch1 steady -0.5
    val stereo = wav(16000f, 2, 16, s16le(
      8192, -16384, 8192, -16384, 8192, -16384, 8192, -16384))
    val dir = new java.io.File(
      graft.Scratch.root + "/audioio_fixtures")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "m.wav").toPath, mono)
    java.nio.file.Files.write(new java.io.File(dir, "s.wav").toPath,
      stereo)
    val feats = Multimodal.extractFeatures(
        Multimodal.readBlobs(spark, dir.toString, "audio"),
        Multimodal.MediaDecoder.AudioIO)
      .collect()
    assert(feats.length == 2)
    val by = feats.map(r => r.getInt(4) -> r).toMap
    val m = by(8000)
    assert(m.getInt(5) == 1 && m.getInt(6) == 8,
      s"mono: 1 channel x 8 frames: $m")
    val rmsHalf = math.sqrt(0.125).toFloat // 0.5 amp over half the clip
    assert(m.getSeq[Float](7) == Seq(rmsHalf, rmsHalf, 0.5f, 0.5f,
      0.5f, 0.5f, 0.0f, 0.0f), s"mono stats: ${m.getSeq[Float](7)}")
    val s = by(16000)
    assert(s.getInt(5) == 2 && s.getInt(6) == 4)
    val segRms = math.sqrt((0.0625 + 0.25) / 2).toFloat
    assert(s.getSeq[Float](7) == Seq(0.25f, 0.5f, 0.25f, 0.5f,
      segRms, segRms, segRms, segRms),
      s"stereo stats: ${s.getSeq[Float](7)}")
    // 8-bit unsigned mono converts through the JDK transcoder:
    // (b - 128) << 8, so 192 -> +0.5 and 64 -> -0.5
    val eight = wav(8000f, 1, 8,
      Array(192, 192, 64, 64).map(_.toByte))
    val e = Multimodal.extractFeatures(
      Multimodal.asBlobs(Seq((7L, eight)).toDF("doc_id", "b"),
        "doc_id", "b", "audio"),
      Multimodal.MediaDecoder.AudioIO).head()
    assert(e.getInt(4) == 8000 && e.getInt(5) == 1 && e.getInt(6) == 4)
    assert(e.getSeq[Float](7).forall(v => math.abs(v - 0.5f) < 0.01f),
      s"8-bit conversion stats: ${e.getSeq[Float](7)}")
    // junk payload under kind=audio degrades to the stub exactly;
    // and the Jdk composite dispatches audio to AudioIO
    val junk = Multimodal.asBlobs(
      Seq((9L, "definitely not a wav")).toDF("doc_id", "text"),
      "doc_id", "text", "audio")
    val real = Multimodal.extractFeatures(junk,
      Multimodal.MediaDecoder.AudioIO).head()
    val stub = Multimodal.extractFeatures(junk,
      Multimodal.MediaDecoder.Deterministic).head()
    assert(real == stub,
      "undecodable payloads must match the stub fallback exactly")
    val viaJdk = Multimodal.extractFeatures(
      Multimodal.readBlobs(spark, dir.toString, "audio"),
      Multimodal.MediaDecoder.Jdk).collect()
      .map(r => r.getInt(4) -> r.getSeq[Float](7)).toMap
    assert(viaJdk(8000) == m.getSeq[Float](7) &&
      viaJdk(16000) == s.getSeq[Float](7),
      "Jdk composite must route audio to AudioIO")
  }

  test("multimodal: VideoIO decoder enumerates REAL frames of an " +
       "animated GIF and extracts sampled lumas + temporal deltas; " +
       "junk falls back to the stub") {
    import spark.implicits._
    // uniform-color frames on an EXPLICIT 2-entry palette: GIF stores
    // the palette verbatim, so the decode is bit-exact
    def frame(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
      val cm = new java.awt.image.IndexColorModel(8, 2,
        Array(((rgb >> 16) & 0xFF).toByte, 0.toByte),
        Array(((rgb >> 8) & 0xFF).toByte, 0.toByte),
        Array((rgb & 0xFF).toByte, 0.toByte))
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val g2 = img.createGraphics()
      try { g2.setColor(new java.awt.Color(rgb)); g2.fillRect(0, 0, w, h) }
      finally g2.dispose()
      img
    }
    // 5 frames, colors (40f+10, 30f+5, 20f+3): lumaSum(f) = 90f+18
    def rgbOf(f: Int) =
      ((40 * f + 10) << 16) | ((30 * f + 5) << 8) | (20 * f + 3)
    val gif = Multimodal.encodeGif(
      (0 until 5).map(f => frame(6, 4, rgbOf(f))))
    val feats = Multimodal.extractFeatures(
      Multimodal.asBlobs(Seq((1L, gif)).toDF("doc_id", "b"),
        "doc_id", "b", "video"),
      Multimodal.MediaDecoder.VideoIO).head()
    assert(feats.getInt(4) == 6 && feats.getInt(5) == 4,
      s"frame dims: $feats")
    assert(feats.getInt(6) == 5, s"frame count: $feats")
    // sampled indices i*(n-1)/3 for n=5: 0, 1, 2, 4
    def luma(f: Int) = ((90 * f + 18) / 765.0)
    val expect = Seq(
      luma(0).toFloat, luma(1).toFloat, luma(2).toFloat, luma(4).toFloat,
      (luma(1) - luma(0)).toFloat, (luma(2) - luma(1)).toFloat,
      (luma(4) - luma(2)).toFloat,
      ((luma(0) + luma(1) + luma(2) + luma(4)) / 4.0).toFloat)
    assert(feats.getSeq[Float](7) == expect,
      s"sampled lumas: ${feats.getSeq[Float](7)} vs $expect")
    // a STATIC clip (2 identical frames): temporal deltas all zero
    val still = Multimodal.encodeGif(
      Seq.fill(2)(frame(3, 3, rgbOf(1))))
    val sf = Multimodal.extractFeatures(
      Multimodal.asBlobs(Seq((2L, still)).toDF("doc_id", "b"),
        "doc_id", "b", "video"),
      Multimodal.MediaDecoder.VideoIO).head()
    assert(sf.getInt(6) == 2)
    assert(sf.getSeq[Float](7) == Seq(luma(1).toFloat, luma(1).toFloat,
      luma(1).toFloat, luma(1).toFloat, 0.0f, 0.0f, 0.0f,
      luma(1).toFloat), s"static clip: ${sf.getSeq[Float](7)}")
    // junk payload under kind=video degrades to the stub exactly;
    // and the Jdk composite dispatches video to VideoIO
    val junk = Multimodal.asBlobs(
      Seq((9L, "definitely not a gif")).toDF("doc_id", "text"),
      "doc_id", "text", "video")
    val real = Multimodal.extractFeatures(junk,
      Multimodal.MediaDecoder.VideoIO).head()
    val stub = Multimodal.extractFeatures(junk,
      Multimodal.MediaDecoder.Deterministic).head()
    assert(real == stub,
      "undecodable payloads must match the stub fallback exactly")
    val viaJdk = Multimodal.extractFeatures(
      Multimodal.asBlobs(Seq((1L, gif)).toDF("doc_id", "b"),
        "doc_id", "b", "video"),
      Multimodal.MediaDecoder.Jdk).head()
    assert(viaJdk.getSeq[Float](7) == expect &&
      viaJdk.getInt(6) == 5,
      "Jdk composite must route video to VideoIO")
  }

  test("multimodal: imagePhash is container-invariant (PNG == BMP " +
       "of the same raster), edit-local (one corner edit flips few " +
       "bits), and NULL on undecodable payloads") {
    import spark.implicits._
    def raster(edit: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18)
        img.setRGB(x, y, ((x * 37 + y * 101) % 256 << 16) |
          ((x * 59 + y * 17) % 256 << 8) | (x * 7 + y * 43) % 256)
      // a hard local edit: blank the 2x2 top-left cell
      if (edit) for (y <- 0 until 2; x <- 0 until 2)
        img.setRGB(x, y, 0xFFFFFF)
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String) = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val blobs = Seq(
        (1L, enc(raster(false), "png")),
        (2L, enc(raster(false), "bmp")),
        (3L, enc(raster(true), "png")),
        (4L, "not an image at all".getBytes("UTF-8")))
      .toDF("doc_id", "b")
    val ph = Multimodal.imagePhash(
        Multimodal.asBlobs(blobs, "doc_id", "b", "image"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(ph(1).isDefined && ph(1) == ph(2),
      s"re-encode must collide: ${ph(1)} vs ${ph(2)}")
    assert(ph(4).isEmpty, "undecodable payload must hash to NULL")
    val d = java.lang.Long.bitCount(ph(1).get ^ ph(3).get)
    assert(d >= 1 && d <= 3,
      s"a one-cell edit must flip a small positive number of bits: $d")
    // the banded pair join surfaces exactly the near pairs
    val pairs = Multimodal.phashNearDupPairs(
        Multimodal.asBlobs(blobs, "doc_id", "b", "image"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"pairs: $pairs")
    assert(pairs((1L, 2L)) == 0 && pairs((1L, 3L)) == d)
  }

  test("multimodal: imagePhash survives a REAL bilinear 4x downscale " +
       "bit-for-bit on cell-aligned content (scale invariance)") {
    import spark.implicits._
    // 288x192 with 9x8 blocks of 32x24 — the dHash cells exactly.
    // At a clean /4 ratio the bilinear samples never straddle a
    // block boundary, so the resample is block-preserving and the
    // hash must be IDENTICAL, not merely close.
    val img = new java.awt.image.BufferedImage(288, 192,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (by <- 0 until 8; bx <- 0 until 9) {
      val rgb = (((bx * 53 + by * 97 + 11) * 2654435761L) >>> 16)
        .toInt & 0xFFFFFF
      for (y <- by * 24 until by * 24 + 24;
           x <- bx * 32 until bx * 32 + 32)
        img.setRGB(x, y, rgb)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val blobs = Multimodal.asBlobs(
      Seq((1L, out.toByteArray)).toDF("doc_id", "b"),
      "doc_id", "b", "image")
    val resized = Multimodal.resizeBlobs(blobs, 72, 48,
      Multimodal.MediaResizer.ImageIO)
      .select(col("media_id"), col("kind"), col("content"), col("meta"))
    val h1 = Multimodal.imagePhash(blobs).head().getLong(1)
    val h2 = Multimodal.imagePhash(resized).head().getLong(1)
    assert(h1 == h2,
      s"4x downscale must preserve the hash exactly: " +
        s"hamming=${java.lang.Long.bitCount(h1 ^ h2)}")
  }

  test("multimodal: audioFingerprint is container-invariant (WAV == " +
       "AIFF of the same PCM), edit-local (one segment edit flips " +
       "<= 2 bits), and NULL on short or undecodable clips") {
    import spark.implicits._
    val frames = 256 // 64 segments x 4 frames
    def clip(aiff: Boolean, edit: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](frames * 2)
      for (i <- 0 until frames) {
        val base = (((i.toLong * 7 * 2654435761L) % 65536L) - 32768L)
          .toInt
        // halve amplitude so the edit below can't clip, then
        // amplify segment 10 (frames 40..43) hard
        val v0 = base / 2
        val v = if (edit && i / 4 == 10) v0 / 8 else v0
        if (aiff) {
          pcm(2 * i) = ((v >> 8) & 0xFF).toByte
          pcm(2 * i + 1) = (v & 0xFF).toByte
        } else {
          pcm(2 * i) = (v & 0xFF).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        }
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, aiff)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        if (aiff) javax.sound.sampled.AudioFileFormat.Type.AIFF
        else javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // a 32-frame clip: shorter than 64 segments -> NULL
    def shortClip: Array[Byte] = {
      val pcm = new Array[Byte](32 * 2)
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 32L)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val blobs = Seq(
        (1L, clip(aiff = false, edit = false)),
        (2L, clip(aiff = true, edit = false)),
        (3L, clip(aiff = false, edit = true)),
        (4L, shortClip),
        (5L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "b")
    val fp = Multimodal.audioFingerprint(
        Multimodal.asBlobs(blobs, "doc_id", "b", "audio"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(fp(1).isDefined && fp(1) == fp(2),
      s"WAV and AIFF of the same PCM must collide: ${fp(1)} vs ${fp(2)}")
    assert(fp(4).isEmpty, "sub-64-frame clip must fingerprint to NULL")
    assert(fp(5).isEmpty, "undecodable payload must fingerprint to NULL")
    // editing one segment can only flip the two bits whose compare
    // touches it (bits 9 and 10 of the circular gradient)
    val d = java.lang.Long.bitCount(fp(1).get ^ fp(3).get)
    assert(d >= 1 && d <= 2,
      s"a one-segment edit must flip 1-2 bits: $d")
    val pairs = Multimodal.audioNearDupPairs(
        Multimodal.asBlobs(blobs, "doc_id", "b", "audio"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"pairs: $pairs")
    assert(pairs((1L, 2L)) == 0 && pairs((1L, 3L)) == d)
  }

  test("multimodal: videoNearDupPairs aligns frame slots — full " +
       "re-encode matches 4/4, one-frame replacement 3/4, unrelated " +
       "clips and junk never pair") {
    import spark.implicits._
    val (w, h) = (16, 12)
    def frame(seed: Int, f: Int): java.awt.image.BufferedImage = {
      val n = w * h
      val (rs, gs, bs) =
        (new Array[Byte](n), new Array[Byte](n), new Array[Byte](n))
      for (y <- 0 until h; x <- 0 until w) {
        val i = y * w + x
        rs(i) = ((x * 37 + y * 101 + seed * 13 + f * 91) % 256).toByte
        gs(i) = ((x * 59 + y * 17 + seed * 29 + f * 53) % 256).toByte
        bs(i) = ((x * 7 + y * 43 + seed * 71 + f * 29) % 256).toByte
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
    def gif(seed: Int, lastF: Int): Array[Byte] =
      Multimodal.encodeGif((0 until 5).map(f =>
        frame(seed, if (f == 4) lastF else f)))
    val blobs = Seq(
        (1L, gif(1, 4)),            // base
        (2L, gif(1, 4)),            // identical re-encode: 4/4 slots
        (3L, gif(1, 9)),            // last frame replaced: 3/4 slots
        (4L, gif(2, 4)),            // unrelated clip
        (5L, "not a gif".getBytes("UTF-8")))
      .toDF("doc_id", "b")
    val pairs = Multimodal.videoNearDupPairs(
        Multimodal.asBlobs(blobs, "doc_id", "b", "video"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"pairs: $pairs")
    assert(pairs((1L, 2L)) == 4L && pairs((1L, 3L)) == 3L &&
      pairs((2L, 3L)) == 3L, s"pairs: $pairs")
    // dropping minMatches to 1 must NOT surface the unrelated clip
    // (its frames differ everywhere, not just in count)
    val loose = Multimodal.videoNearDupPairs(
        Multimodal.asBlobs(blobs, "doc_id", "b", "video"),
        minMatches = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!loose.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated clip must stay unpaired: $loose")
  }

  test("multimodal: quality gates never judge stub features — an " +
       "undecodable blob gets ONLY the is_undecoded verdict") {
    import spark.implicits._
    // an MP4-shaped payload the GIF-only enumerator cannot open:
    // before the `decoded` flag, the stub's md5 feature arithmetic
    // leaked into is_static/is_flicker as pseudo-random verdicts
    val blobs = Multimodal.asBlobs(
      Seq((1L, "\u0000\u0000\u0000 ftypisom fake mp4 payload"))
        .toDF("doc_id", "b"),
      "doc_id", "b", "video")
    val feats = Multimodal.extractFeatures(blobs,
      Multimodal.MediaDecoder.Jdk)
    assert(!feats.head().getBoolean(feats.schema.fieldIndex("decoded")))
    val vq = Multimodal.videoQuality(feats).head()
    assert(vq.getBoolean(vq.fieldIndex("is_undecoded")))
    assert(!vq.getBoolean(vq.fieldIndex("is_short")) &&
      !vq.getBoolean(vq.fieldIndex("is_static")) &&
      !vq.getBoolean(vq.fieldIndex("is_flicker")),
      s"stub features must never produce quality verdicts: $vq")
    // same contract on the other two gates
    val aq = Multimodal.audioQuality(Multimodal.extractFeatures(
      Multimodal.asBlobs(Seq((2L, "not audio")).toDF("doc_id", "b"),
        "doc_id", "b", "audio"),
      Multimodal.MediaDecoder.Jdk)).head()
    assert(aq.getBoolean(aq.fieldIndex("is_undecoded")) &&
      !aq.getBoolean(aq.fieldIndex("is_clipped")) &&
      !aq.getBoolean(aq.fieldIndex("is_silent")), s"$aq")
    val iq = Multimodal.imageQuality(Multimodal.extractFeatures(
      Multimodal.asBlobs(Seq((3L, "not an image")).toDF("doc_id", "b"),
        "doc_id", "b", "image"),
      Multimodal.MediaDecoder.Jdk)).head()
    assert(iq.getBoolean(iq.fieldIndex("is_undecoded")) &&
      !iq.getBoolean(iq.fieldIndex("is_tiny")) &&
      !iq.getBoolean(iq.fieldIndex("is_flat")), s"$iq")
  }

  test("multimodal: resizeBlobs keeps schema + ids, rewrites content") {
    val blobs = Multimodal.asBlobs(docs.limit(20), "doc_id", "text", "image")
    val resized = Multimodal.resizeBlobs(blobs, 8, 8)
    assert(resized.count() == 20)
    assert(resized.columns.toSeq ==
      blobs.columns.toSeq ++ Seq("target_w", "target_h"))
    val row = resized.orderBy("media_id").head()
    assert(row.getInt(row.fieldIndex("target_w")) == 8)
    assert(row.getAs[Array[Byte]]("content").length <= 64,
      "stub resample must bound content to <= w*h bytes")
  }

  test("multimodal: ImageIO resizer produces a REAL decodable " +
       "resample (true target dims, preserved channel balance); " +
       "junk falls back to the byte stub") {
    import spark.implicits._
    // 4x2 PNG, left half pure red / right half pure blue
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xFF0000 else 0x0000FF)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val blobs = Multimodal.asBlobs(
      Seq((1L, out.toByteArray)).toDF("doc_id", "b"), "doc_id", "b",
      "image")
    val resized = Multimodal.resizeBlobs(blobs, 2, 2,
      Multimodal.MediaResizer.ImageIO)
    // the resized blob is a REAL image: decode it and check stats
    val feat = Multimodal.extractFeatures(
      resized.select("media_id", "kind", "content"),
      Multimodal.MediaDecoder.ImageIO).head()
    assert(feat.getInt(4) == 2 && feat.getInt(5) == 2,
      s"true target dims: $feat")
    val v = feat.getSeq[Float](7)
    // halving a red|blue split preserves the channel balance
    assert(math.abs(v(0) - 0.5f) < 0.05f &&
      math.abs(v(2) - 0.5f) < 0.05f && v(1) < 0.05f,
      s"channel balance after resample: $v")
    // junk payload: byte-stub fallback, bounded like the stub
    val junk = Multimodal.asBlobs(
      Seq((2L, "not an image at all")).toDF("doc_id", "t"),
      "doc_id", "t", "image")
    val viaReal = Multimodal.resizeBlobs(junk, 3, 3,
        Multimodal.MediaResizer.ImageIO)
      .head().getAs[Array[Byte]]("content")
    val viaStub = Multimodal.resizeBlobs(junk, 3, 3)
      .head().getAs[Array[Byte]]("content")
    assert(viaReal.sameElements(viaStub),
      "undecodable payloads must match the stub fallback exactly")
  }

  test("multimodal: frame sampling schedule matches n_frames/stride") {
    import spark.implicits._
    val feats = Seq((1L, "video", 100L, 0L, 64, 64, 25, Seq.empty[Float]))
      .toDF("media_id", "kind", "byte_len", "content_hash", "width",
        "height", "n_frames", "feature_vec")
    val frames = Multimodal.sampleFrames(feats, stride = 10)
      .collect().map(_.getInt(1)).sorted
    assert(frames.toSeq == Seq(0, 10, 20))
  }

  test("langId picks the marker language; und when no hits") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat of the mat and that is it"),
      (2L, "el perro y la casa que en los campos se ve"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "und")
  }

  test("nbLangId: separable vocabularies classify perfectly; " +
       "shared-vocab doc goes to the majority prior") {
    import spark.implicits._
    // two languages with disjoint vocab; en has 2x the training docs
    val df = Seq(
      (1L, "en", "cat dog house tree"),
      (2L, "en", "dog tree cat cat"),
      (3L, "en", "house dog tree dog"),
      (4L, "en", "tree cat house dog"),
      (5L, "xx", "blorp zub zub frick"),
      (6L, "xx", "frick blorp zub blorp"))
      .toDF("doc_id", "lang", "text")
    val pred = TextAnalysis.nbLangId(df, df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 4L).forall(pred(_) == "en") &&
      Seq(5L, 6L).forall(pred(_) == "xx"), s"got $pred")
    // scoring a separate frame against the trained model: one token
    // from each class — exactly one deterministic winner
    val mixed = Seq((9L, "cat zub")).toDF("doc_id", "text")
    val m = TextAnalysis.nbLangId(mixed, df).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(m.contains(9L) && Set("en", "xx").contains(m(9L)))
    // confusion matrix on the separable fixture is diagonal
    val conf = TextAnalysis.nbLangIdConfusion(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(conf == Set(("en", "en", 4L), ("xx", "xx", 2L)), s"got $conf")
  }

  test("nbModel is sparse (only observed pairs) and vocab-capped; " +
       "capped-out labels keep their floor row") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "cat dog house tree"),
      (2L, "en", "dog tree cat cat"),
      (3L, "en", "house dog tree dog"),
      (4L, "en", "tree cat house dog"),
      (5L, "xx", "blorp zub zub frick"),
      (6L, "xx", "frick blorp zub blorp"))
      .toDF("doc_id", "lang", "text")
    // disjoint vocabularies: 7 observed (label, token) pairs — the
    // dense cross-product would be 7 x 2 = 14
    val (seen, labels) = TextAnalysis.nbModel(df)
    assert(seen.count() == 7L, "sparse model must be |seen|-sized")
    assert(labels.count() == 2L)
    // cap to the top-2 tokens by corpus frequency (dog=5, then the
    // cat/tree tie at 4 breaks lexicographically to cat) — both are
    // en-only, yet BOTH labels keep their (floor, prior) row so xx
    // remains scoreable
    val (seen2, labels2) = TextAnalysis.nbModel(df, maxVocab = 2)
    val s2 = seen2.collect().map(r => (r.getString(0), r.getString(1)))
    assert(s2.map(_._1).toSet == Set("cat", "dog") &&
      s2.forall(_._2 == "en"), s"got ${s2.toSeq}")
    val l2 = labels2.select("_lang", "_floor").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(l2.keySet == Set("en", "xx"))
    // capped-out label's floor is the nl=0 dense value ln(alpha/(alpha*V))
    assert(math.abs(l2("xx") - math.log(1.0 / 2.0)) < 1e-12, l2)
  }

  test("winnowReport: containment shows as full coverage of the " +
       "contained side; unrelated docs don't pair") {
    import spark.implicits._
    // doc 2 is a strict substring of doc 1 (the plagiarism shape);
    // doc 3 shares nothing
    val stolen = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, stolen + " " + (31 to 60).map(i => s"tok$i").mkString(" ")),
      (2L, stolen),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Dedup.winnowReport(df, k = 5, w = 4, minShared = 2,
      maxDf = 50).collect()
    assert(rows.length == 1, s"got ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    val (nShared, npA, npB) = (r.getLong(2), r.getLong(3), r.getLong(4))
    val (covA, covB) = (r.getDouble(5), r.getDouble(6))
    // every print of the contained doc is shared: cov_b = 1.0, and
    // the containing doc's coverage is partial
    assert(nShared == npB && covB == 1.0, s"got $r")
    assert(npA > npB && covA < 1.0, s"got $r")
  }

  test("blocklistScrub: exact lowercase token match, metachars " +
       "escaped, scrubbed text, doc-level verdict") {
    import spark.implicits._
    val df = Seq(
      (1L, "good text SPAM more spam here"),      // 2/6 hits
      (2L, "clean document with nothing bad"),    // 0 hits
      (3L, "a.b axb a-b"),                        // only literal a.b
      (4L, ""))                                   // empty
      .toDF("doc_id", "text")
    val got = TextAnalysis.blocklistScrub(df,
        terms = Seq("spam", "a.b"), tau = 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getString(4), r.getBoolean(5)))).toMap
    assert(got(1L) == ((6L, 2L, 0.333333, "good text more here", true)),
      s"got ${got(1L)}")
    assert(got(2L) ==
      ((5L, 0L, 0.0, "clean document with nothing bad", false)))
    // the dot is a literal: "axb" must survive, "a.b" must not
    assert(got(3L) == ((3L, 1L, 0.333333, "axb a-b", true)),
      s"got ${got(3L)}")
    assert(got(4L) == ((0L, 0L, 0.0, "", false)))
  }

  test("bpeMerges: planted merges come out in order, ties break " +
       "lexicographically, training stops when dry, greedy-leftmost " +
       "on overlaps") {
    import spark.implicits._
    // "abc" x2: round 1 ties (a,b)=(b,c)=2 -> lexicographic (a,b);
    // round 2: [ab,c] pair (ab,c)=2; round 3 dry (single-symbol
    // words) even though k=5 asks for more
    val df1 = Seq((1L, "abc abc")).toDF("doc_id", "text")
    val m1 = TextAnalysis.bpeMerges(df1, merges = 5)
    assert(m1.toSeq == Seq((1L, "a", "b", 2L), (2L, "ab", "c", 2L)),
      s"got ${m1.toSeq}")
    // overlap: "aaa" with pair (a,a) merges LEFTMOST only -> [aa, a];
    // round 2 merges (aa, a)
    val df2 = Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeMerges(df2, merges = 2)
    assert(m2.toSeq == Seq((1L, "a", "a", 6L), (2L, "aa", "a", 3L)),
      s"got ${m2.toSeq}")
    // word counts weight the pair counts: "xy" x3 beats "pq" x2
    val df3 = Seq((1L, "xy xy pq"), (2L, "xy pq")).toDF("doc_id", "text")
    val m3 = TextAnalysis.bpeMerges(df3, merges = 1)
    assert(m3.toSeq == Seq((1L, "x", "y", 3L)), s"got ${m3.toSeq}")
  }

  test("wordpieceMerges: LIKELIHOOD argmax picks the exclusive rare " +
       "pair where BPE's count argmax picks the frequent one; score " +
       "is the exact scaled integer") {
    import spark.implicits._
    // (a,b) occurs 10x but a/b are everywhere (c_a = c_b = 50):
    // score = 10e9 div 2500 = 4,000,000. (q,z) occurs only 3x but
    // exclusively (c_q = c_z = 3): score = 3e9 div 9 = 333,333,333.
    val text = (Seq.fill(10)("ab") ++ Seq.fill(40)("a") ++
      Seq.fill(40)("b") ++ Seq.fill(3)("qz")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val wp = TextAnalysis.wordpieceMerges(df, merges = 1)
    assert(wp.toSeq == Seq((1L, "q", "z", 3L, 333333333L)),
      s"got ${wp.toSeq}")
    val bpe = TextAnalysis.bpeMerges(df, merges = 1)
    assert(bpe.toSeq == Seq((1L, "a", "b", 10L)),
      "the SAME corpus must separate the two argmax rules: " +
        s"got ${bpe.toSeq}")
  }

  test("wordpieceEncode: greedy longest-match-first against the " +
       "trained vocab; out-of-alphabet words become one [UNK]") {
    import spark.implicits._
    val train = Seq((1L,
      (Seq.fill(3)("qz") ++ Seq.fill(2)("a") ++ Seq.fill(2)("b"))
        .mkString(" "))).toDF("doc_id", "text")
    // vocab after 1 merge: {a, b, q, z, qz}
    // "abqz" -> a | b | qz (3 pieces, longest-match consumes qz
    // whole); "ax" has x outside the training alphabet -> [UNK]
    val apply = Seq((7L, "abqz ax")).toDF("doc_id", "text")
    val got = TextAnalysis.wordpieceEncode(train, merges = 1,
        applyTo = Some(apply)).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((7L, 2L, 4L, 1L, 2.0)), s"got $r")
  }

  test("bpeEncode: trained words collapse to one symbol, unseen-" +
       "structure words stay char-fertile") {
    import spark.implicits._
    // training mass on "abab": merges (a,b) then (ab,ab) -> one
    // symbol; "cd" never merges (k=2 spent) -> 2 symbols for 2 chars
    val df = Seq((1L, "abab abab abab cd"), (2L, "abab cd"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(df, merges = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 4 tokens; abab x3 -> 1 sym each, cd -> 2 syms = 5
    assert(got(1L) == ((4L, 5L, 1.25)), s"got ${got(1L)}")
    // doc 2: 2 tokens -> 1 + 2 = 3
    assert(got(2L) == ((2L, 3L, 1.5)), s"got ${got(2L)}")
  }

  test("qualityNb: gopher verdicts label the corpus; the NB recovers " +
       "them on a separable fixture") {
    import spark.implicits._
    // fail docs: one token repeated (top-2gram fraction 1.0 >> 0.2);
    // pass docs: all-distinct tokens, long enough that even the top
    // singleton n-gram stays under the char-fraction bounds —
    // vocabularies disjoint, so the classifier separates perfectly
    val passWords = (0 until 40).map(i => s"w${i}word$i")
    val df = Seq(
      (1L, passWords.mkString(" ")),
      (2L, passWords.map(_ + "b").mkString(" ")),
      (3L, passWords.map(_ + "c").mkString(" ")),
      (4L, "spam spam spam spam spam spam spam spam"),
      (5L, "ham ham ham ham ham ham ham ham"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityNb(df).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got.size == 5)
    (1L to 3L).foreach { i =>
      assert(got(i) == (("pass", "pass")), s"doc $i: ${got(i)}") }
    Seq(4L, 5L).foreach { i =>
      assert(got(i) == (("fail", "fail")), s"doc $i: ${got(i)}") }
  }

  test("mmrRerank: clone excluded, orthogonal doc promoted over " +
       "plain cosine order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),   // = query
      (2L, Seq(1.0f, 0.0f, 0.0f)),   // exact clone of 1
      (3L, Seq(0.7071f, 0.7071f, 0.0f)),
      (4L, Seq(0.0f, 1.0f, 0.0f)))   // orthogonal to the query
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("query_id", "query_vec")
    // plain top-3 is (1, 2, 3): the clone crowds out coverage
    val brute = Similarity.bruteTopK(corpus, queries, k = 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(brute == Seq(1L, 2L, 3L))
    // MMR at lambda=0.3: clone's redundancy sinks it below even the
    // orthogonal doc -> (1, 4, 3), no duplicate in the result
    val mmr = Similarity.mmrRerank(corpus, queries, k = 3,
        nCandidates = 4, lambda = 0.3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(mmr == Seq(1L, 4L, 3L), s"got $mmr")
  }

  test("embedOutliers: planted far vector flagged, tight cluster not; " +
       "singleton cell z=0") {
    import spark.implicits._
    // cell around (1,0): small jitter; one vector way off; a second
    // seed at (0,1) that stays a singleton
    val rows = Seq(
      (1L, Seq(1.00f, 0.01f)), (2L, Seq(0.99f, 0.00f)),
      (3L, Seq(1.01f, 0.00f)), (4L, Seq(1.00f, -0.01f)),
      (5L, Seq(0.98f, 0.02f)), (6L, Seq(1.02f, -0.02f)),
      (7L, Seq(9.00f, 0.00f)),                 // planted outlier
      (8L, Seq(0.00f, 1.00f)))                 // singleton cell
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = Similarity.embedOutliers(emb, cents, zThreshold = 2.0)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
    assert(got(7L)._2, s"planted outlier not flagged: ${got(7L)}")
    assert((1L to 6L).forall(!got(_)._2),
      s"tight cluster misflagged: $got")
    assert(got(8L) == ((0.0, false)), "singleton cell must report z=0")
  }

  test("sourceOverlap: identical slices at 1.0, disjoint at 0.0, " +
       "half-shared in between") {
    import spark.implicits._
    val df = Seq(
      (1L, "s1", "a b c d e f"),     // shingles abc bcd cde def
      (2L, "s2", "a b c d e f"),     // mirror of s1
      (3L, "s3", "x y z w v u"),     // disjoint
      (4L, "s4", "a b c d x q r s")) // shares abc bcd of 6 total
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(df, n = 3, groupCol = "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getDouble(5))).toMap
    assert(got(("s1", "s2")) == ((4L, 1.0)))
    assert(got(("s1", "s3")) == ((0L, 0.0)))
    assert(got(("s3", "s4")) == ((0L, 0.0)))
    // s4 shingles: abc bcd cdx dxq xqr qrs -> shares {abc,bcd}; union 8
    assert(got(("s1", "s4")) == ((2L, 0.25)))
    assert(got.size == 6)
    // containment exposes the subset mirror Jaccard hides: s5 is a
    // strict subset of s1's shingles (2 of 4) -> containment 1.0
    // while jaccard is only 0.5
    val df2 = df.union(Seq((5L, "s5", "a b c d"))
      .toDF("doc_id", "source", "text"))
    val cont = Dedup.sourceOverlap(df2, n = 3, groupCol = "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    assert(cont(("s1", "s5")) == ((0.5, 1.0)), s"${cont(("s1", "s5"))}")
  }

  test("qualitySignals: hand-computed entropy/TTR; empty doc zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, "aa aa b"),             // tokens {aa:2, b:1}; chars {a:4, b:1}
      (2L, ""),                    // zero tokens -> all-zero signals
      (3L, "x y z w")).toDF("doc_id", "text")
    val got = TextAnalysis.qualitySignals(df).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    // doc 1 tokens: H = ln3 - (2 ln2)/3 = 0.636514; ttr 2/3; top 2/3
    val h3 = BigDecimal(math.log(3) - 2 * math.log(2) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1 chars (spaces dropped): {a:4, b:1}, n=5
    val hc = BigDecimal(math.log(5) - 4 * math.log(4) / 5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, 0.666667, 0.666667, h3, hc)), s"got ${got(1L)}")
    assert(got(2L) == ((0L, 0.0, 0.0, 0.0, 0.0)))
    // 4 distinct tokens: maximal diversity, H = ln 4
    val h4 = BigDecimal(math.log(4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(3L)._2 == 1.0 && got(3L)._4 == h4)
  }

  test("fingerprint is whitespace-normalization stable") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "x y z w v u t s")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("chunkDedup drops exactly the corpus-repeated chunks") {
    import spark.implicits._
    // chunk width 4: doc 1 = [shared | u1], doc 2 = [shared | u2],
    // doc 3 unique, doc 4 = one shared chunk only (emptied entirely)
    val shared = "dup1 dup2 dup3 dup4"
    val planted = Seq(
      (1L, s"$shared a b c d"),
      (2L, s"$shared e f g h"),
      (3L, "p q r s t u v w"),
      (4L, shared)).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(planted, chunkTokens = 4)
      .select("doc_id", "text_clean", "n_chunks_dropped").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("a b c d", 1L)))
    assert(got(2L) == (("e f g h", 1L)))
    assert(got(3L) == (("p q r s t u v w", 0L)))  // untouched fast path
    assert(got(4L) == (("", 1L)))                 // fully-duplicated doc
  }

  test("chunkDedup: within-doc repeated chunk also counts as frequent") {
    import spark.implicits._
    val planted = Seq((1L, "x1 x2 x3 x4 x1 x2 x3 x4 tail1 tail2 tail3 tail4"))
      .toDF("doc_id", "text")
    val r = Dedup.chunkDedup(planted, chunkTokens = 4).collect().head
    assert(r.getAs[String]("text_clean") == "tail1 tail2 tail3 tail4")
    assert(r.getAs[Long]("n_chunks_dropped") == 2L)
  }

  test("packSequences: bucketed plan == windowed reference plan") {
    val a = Mixing.packSequences(docs, seqTokens = 512, nBuckets = 8)
      .select("doc_id", "n_tokens", "token_start", "pack_id", "pack_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val b = Mixing.packSequencesWindowed(docs, seqTokens = 512)
      .select("doc_id", "n_tokens", "token_start", "pack_id", "pack_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
    // stream invariants: offsets start at 0, are gap-free, and the
    // pack geometry is consistent
    val byStart = a.sortBy(_._3)
    assert(byStart.head._3 == 0L)
    byStart.sliding(2).foreach { case Array((_, n, s, _, _), (_, _, s2, _, _)) =>
      assert(s + n == s2, "token offsets must be contiguous")
    case _ => }
    a.foreach { case (_, _, s, p, o) =>
      assert(p == s / 512 && o == s % 512 && o < 512)
    }
  }

  test("bucketed prefix-sum ops survive NULL content (0 tokens, bucket 0)") {
    import spark.implicits._
    val withNull = Seq((1L, "en", "aa bb cc dd"), (2L, "en", null),
      (3L, "en", "ee ff")).toDF("doc_id", "lang", "text")
    val packed = Mixing.packSequences(withNull, seqTokens = 4, nBuckets = 4)
      .select("doc_id", "n_tokens", "token_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(packed.length == 3)
    assert(packed.find(_._1 == 2L).get._2 == 0L, "null text = 0 tokens")
    assert(packed.map(_._2).sum == 6L)
    // equivalence with the windowed form holds with NULLs present
    val win = Mixing.packSequencesWindowed(withNull, seqTokens = 4)
      .select("doc_id", "n_tokens", "token_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(packed.sortBy(_._1).sameElements(win))
    val sampled = Mixing.tokenBudgetSample(withNull, Map("en" -> 5L),
      nBuckets = 4)
    assert(sampled.count() ==
      Mixing.tokenBudgetSampleWindowed(withNull, Map("en" -> 5L)).count())
  }

  test("quantized top-k: high recall vs float path; int8 range holds") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = hits(Similarity.bruteTopK(emb, queries, k = 10))
    val quant = hits(Similarity.bruteTopKQuantized(emb, queries, k = 10))
    val recall = exact.count(quant).toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall@10 = $recall")
    val range = emb.select(VectorOps.quantizeInt8(col("embedding")).as("q"))
      .select(explode(col("q")).as("v"))
      .agg(min(col("v")), max(col("v"))).collect().head
    assert(range.getByte(0) >= -127 && range.getByte(1) <= 127)
    // zero vector quantizes to zeros, not NaN/null
    val z = Seq((1L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding")
      .select(VectorOps.quantizeInt8(col("embedding")).as("q"))
      .collect().head.getSeq[Byte](0)
    assert(z.length == 3 && z.forall(_ == 0))
  }

  test("IVF over quantized vectors composes: decent recall, 4x smaller scan") {
    import spark.implicits._
    def quantized(df: org.apache.spark.sql.DataFrame, id: String,
                  vec: String): org.apache.spark.sql.DataFrame =
      df.select(col(id),
        VectorOps.quantizeInt8(col(vec)).cast("array<double>").as(vec))
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val qCorpus = quantized(emb, "vec_id", "embedding")
    val qQueries = quantized(queries, "query_id", "query_vec")
    val cents = Similarity.collectCentroids(qCorpus, nCells = 16)
    val got = Similarity.ivfTopKWith(cents, qCorpus, qQueries, k = 10,
        nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.bruteTopK(emb, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(got).toDouble / exact.size
    assert(recall >= 0.7, s"quantized-IVF recall@10 = $recall")
  }

  test("redactPii replaces emails, IPs and phone runs; clean text unchanged") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+tag@corp.example.org now"),
      (2L, "host 192.168.001.17 up"),
      (3L, "call +1 (555) 010-9944 or 555-010-2200 today"),
      (4L, "no pii here at all")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "host <IP> up")
    assert(got(3L) == "call <PHONE> or <PHONE> today")
    assert(got(4L) == "no pii here at all")
  }

  test("vocabulary ranks by frequency; oovRate measures coverage") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "aa aa aa bb bb cc"),
      (2L, "en", "aa bb zz"),
      (3L, "fr", "qq rr")).toDF("doc_id", "lang", "text")
    val vocab = TextAnalysis.vocabulary(df, v = 2)
    val rows = vocab.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "aa", 4L), (2L, "bb", 3L)))
    val m = TextAnalysis.oovRate(df, vocab).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // en: 9 tokens, 2 OOV (cc, zz); fr: 2 tokens, all OOV
    assert(m("en") == ((9L, 0.222222)))
    assert(m("fr") == ((2L, 1.0)))
  }

  test("normalizeText: NFC composition, casefold, whitespace collapse") {
    import spark.implicits._
    // "e" + combining acute (NFD) must compose to the NFC "é"
    val decomposed = "Café"
    val df = Seq(
      (1L, s"  $decomposed   AU   LAIT\t\nplease "),
      (2L, "already clean"),
      (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "café au lait please")
    assert(got(2L) == "already clean")
    assert(got(3L) == "")
  }

  test("bigramLmScore: improbable sequences score below corpus-typical " +
       "text; decimal average matches hand computation") {
    import spark.implicits._
    // train: "a b" dominates; doc 3 is an unseen-order permutation
    val train = Seq((1L, "a b a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val gotN = TextAnalysis.bigramLmScore(train, train, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // counts: tokens a:4 b:4 c:1, V=3; bigrams "a b":4, "b a":2, "b c":1
    def p(cb: Long, cu: Long) = math.log((cb + 0.5) / (cu + 0.5 * 3))
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = r6((3 * p(4, 4) + 2 * p(2, 4)) / 5)
    val d2 = r6((p(4, 4) + p(1, 4)) / 2)
    assert(gotN(1L)._1 == 5L && math.abs(gotN(1L)._2 - d1) < 1e-9)
    assert(gotN(2L)._1 == 2L && math.abs(gotN(2L)._2 - d2) < 1e-9)
    // scoring a gibberish doc against the trained LM: all bigrams
    // unseen -> backoff floor, lower than the typical doc's score
    val weird = Seq((9L, "c c c c c c")).toDF("doc_id", "text")
    val ws = TextAnalysis.bigramLmScore(weird, train, alpha = 0.5)
      .collect()(0).getDouble(2)
    assert(ws < gotN(1L)._2 && ws < gotN(2L)._2)
  }

  test("tfidfTopTerms: hand-computed scores, deterministic ties") {
    import spark.implicits._
    // N=3; "aa" in all docs (idf ln(1)=0), "bb" in two (ln 1.5),
    // "cc" only in doc 1 (ln 3)
    val df = Seq(
      (1L, "aa bb cc cc"),
      (2L, "aa bb"),
      (3L, "aa")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    val cc = r6(2.0 * math.log(3.0 / 1.0))
    val bb = r6(1.0 * math.log(3.0 / 2.0))
    assert(got == Seq(
      (1L, 1L, "cc", cc), (1L, 2L, "bb", bb),
      // doc 2: bb (0.405) then aa (0.0); doc 3: only aa
      (2L, 1L, "bb", bb), (2L, 2L, "aa", 0.0),
      (3L, 1L, "aa", 0.0)))
  }

  test("gopherRepetition: hand-computed line-dup and n-gram fractions") {
    import spark.implicits._
    val clean = (0 until 50).map(i => f"t$i%02d").mkString(" ")
    val df = Seq(
      // tokens a b a b a b c x x (9, 9 chars); lines: 13-char line +
      // "x" twice -> dup_line 1/3, dup_line_chars 1/15
      (1L, "a b a b a b c\nx\nx"),
      // "one two three four five" twice: the 5-gram repeats, covering
      // every token position -> dup_5gram_frac = 1.0
      (2L, "one two three four five one two three four five"),
      // 50 distinct 3-char tokens, no repetition anywhere
      (3L, clean)).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetition(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) =
      got(id).getDouble(got(id).fieldIndex(c))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(got(1L).getLong(1) == 3L)                 // n_lines
    assert(f(1L, "dup_line_frac") == r6(1.0 / 3))
    assert(f(1L, "dup_line_char_frac") == r6(1.0 / 15))
    // top2: "a b" x3, 2 chars -> 6/9; top3: "a b a"/"b a b" x2 -> 6/9
    assert(f(1L, "top_2gram_frac") == r6(6.0 / 9))
    assert(f(1L, "top_3gram_frac") == r6(6.0 / 9))
    assert(f(1L, "dup_5gram_frac") == 0.0)
    assert(f(2L, "dup_5gram_frac") == 1.0)           // full coverage
    assert(f(2L, "dup_6gram_frac") == 0.0)           // all 6-grams unique
    // clean doc: no dup signal; top grams are unique singletons
    assert(f(3L, "dup_line_frac") == 0.0)
    assert(f(3L, "top_2gram_frac") == r6(6.0 / 150))
    assert(got(3L).getBoolean(got(3L).fieldIndex("kept")))
    assert(!got(1L).getBoolean(got(1L).fieldIndex("kept")))
    assert(!got(2L).getBoolean(got(2L).fieldIndex("kept")))
  }

  test("clusterBalancedSample caps every cell and is partition-independent") {
    val cents = Similarity.kmeansCentroids(emb, nCells = 16, iters = 2)
    val kept = Sampling.clusterBalancedSample(emb, cents, perCell = 8)
    val perCell = kept.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n")).collect()
    assert(perCell.forall(_.getLong(1) <= 8L))
    assert(perCell.exists(_.getLong(1) == 8L)) // caps actually bind
    val ids = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    // pure function of content: same survivors whatever the layout
    val re = Sampling.clusterBalancedSample(
      emb.repartition(7), cents, perCell = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(re == ids)
  }

  test("PQ: codes in range; rerank with R>=N reproduces brute top-k " +
       "exactly; recall improves with the candidate budget") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
    assert(books.length == 4 && books.forall(_.forall(_.length == 16)))
    // the fused one-job-per-round trainer must equal m independent
    // per-slice Lloyd runs bit-for-bit
    val perSub = (0 until 4).map { s =>
      Similarity.kmeansCentroidsUncached(
        emb.select(col("vec_id"),
          slice(col("embedding"), s * 16 + 1, 16).as("embedding")),
        nCells = 16, iters = 2)
    }
    assert(books == perSub, "fused PQ training diverged from per-subspace")
    val mm = Similarity.pqEncode(emb, books)
      .select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).collect().head
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < 16L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val exact = rows(Similarity.bruteTopK(emb, queries, k = 10))
    val n = emb.count().toInt
    // candidate set == whole corpus -> the re-rank IS the brute path,
    // bit-for-bit (same cosine arithmetic, same tie-break)
    assert(rows(Similarity.pqTopKRerank(emb, queries, books, k = 10,
      rerank = n)) == exact)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val ex = exact.map(t => (t._1, t._3)).toSet
      ex.count(got).toDouble / ex.size
    }
    val r25 = recall(Similarity.pqTopKRerank(emb, queries, books,
      k = 10, rerank = 25))
    val r100 = recall(Similarity.pqTopKRerank(emb, queries, books,
      k = 10, rerank = 100))
    // near-random synthetic embeddings are PQ's adversarial case;
    // measured 0.48 / 0.84 — assert with margin + monotone trend
    assert(r100 >= 0.7, s"PQ rerank=100 recall@10 = $r100")
    assert(r100 >= r25, s"recall must grow with budget: $r25 -> $r100")
  }

  test("hardNegatives: never returns the anchor's own label; equals the " +
       "label-filtered brute top-k") {
    val anchors = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"), col("label").as("query_label"))
    val got = Similarity.hardNegatives(emb, anchors, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (q, _, v, _) =>
      assert(labelOf(v) != labelOf(q), s"negative $v shares label with $q")
    }
    // cross-check: for one anchor label L, hardNegatives must equal
    // bruteTopK over the label-filtered corpus
    val l0 = anchors.orderBy(col("query_id")).select(col("query_label"))
      .collect().head.getInt(0)
    val brute = Similarity.bruteTopK(emb.filter(col("label") =!= l0),
        anchors.filter(col("query_label") === l0), k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val gotForLabel = got.filter(t => labelOf(t._1) == l0)
    assert(brute.nonEmpty && brute.toSet == gotForLabel.toSet,
      "hardNegatives must equal label-filtered brute top-k")
  }

  test("labelDiversity equals the brute-force mean pairwise cosine") {
    val got = Similarity.labelDiversity(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // brute force on one label's vectors
    val rows = emb.filter(col("label") === 3)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val us = rows.map(unit)
    val pairs = for {
      i <- us.indices; j <- us.indices if i != j
    } yield us(i).zip(us(j)).map { case (a, b) => a * b }.sum
    val brute = pairs.sum / pairs.size
    val (n3, m3) = got(3)
    assert(n3 == rows.length)
    assert(math.abs(m3 - brute) < 1e-6,
      s"identity $m3 vs brute $brute")
  }

  test("nearDupDedupBy keeps the best-quality copy, not the lowest id") {
    import spark.implicits._
    val base = (0 until 100).map(i => s"w$i").mkString(" ")
    val longer = base + " extra trailing tokens here"
    val other = (0 until 100).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, longer), (3L, other))
      .toDF("doc_id", "text")
    val comps = Dedup.connectedComponents(
      Dedup.minHashPairs(docs, threshold = 0.5))
    val kept = Dedup.bestPerCluster(comps, docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("quality")))
      .select("keep_id").collect().map(_.getLong(0)).toSet
    // 1 and 2 cluster; 2 is longer so it wins despite the higher id
    assert(kept == Set(2L), s"got $kept")
    // min-id variant keeps 1 — the two policies differ exactly here
    assert(Dedup.nearDupDedup(docs, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("slidingChunks: every token covered, overlap honored, offsets map back") {
    import spark.implicits._
    val text = (1 to 20).map(i => s"t$i").mkString(" ")
    val out = Mixing.slidingChunks(
        Seq((1L, text), (2L, "a b"), (3L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"),
        chunkTokens = 8, overlap = 3)
      .orderBy(col("doc_id"), col("chunk_idx")).collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // stride 5 over 20 tokens -> starts 1,6,11,16
    assert(d1.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 1L, 8L), (1L, 6L, 8L), (2L, 11L, 8L), (3L, 16L, 5L)))
    assert(d1(1).getString(4) == (6 to 13).map(i => s"t$i").mkString(" "),
      "chunk 1 must start at token 6 (3-token overlap with chunk 0)")
    // short doc -> one short chunk; null doc -> nothing
    assert(out.filter(_.getLong(0) == 2L).map(_.getString(4)).toSeq ==
      Seq("a b"))
    assert(!out.exists(_.getLong(0) == 3L))
    // every token index is covered by at least one chunk
    val covered = d1.flatMap(r =>
      r.getLong(2) until (r.getLong(2) + r.getLong(3))).toSet
    assert(covered == (1L to 20L).toSet)
  }

  test("temperatureSample: tail source kept whole, head thinned, deterministic") {
    import spark.implicits._
    val rows = (0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small")) :+
      (1000L, null.asInstanceOf[String])   // no stratum -> excluded
    val df = rows.toDF("doc_id", "source")
    val out = Sampling.temperatureSample(df, alpha = 0.5)
    val kept = out.collect().map(r => (r.getLong(0), r.getString(1)))
    // smallest source: rate 1 -> all 100 survive
    assert(kept.count(_._2 == "small") == 100)
    // big source: rate = (0.9/0.1)^-0.5 = 0.333333 -> ~300 of 900
    val nBig = kept.count(_._2 == "big")
    assert(nBig > 200 && nBig < 400, s"big kept $nBig, expect ~300")
    assert(out.collect().map(_.getLong(0)).toSeq ==
      Sampling.temperatureSample(df, alpha = 0.5)
        .collect().map(_.getLong(0)).toSeq)
    // alpha=1 is a no-op mix (every rate 1)
    assert(Sampling.temperatureSample(df, alpha = 1.0).count() == 1000)
  }

  test("pmiTopPairs: planted exclusive collocation tops the ranking") {
    import spark.implicits._
    val filler = (0 until 50).map(i => s"w${i % 10} w${(i * 3) % 10}")
      .mkString(" ")
    val planted = (0 until 20).map(i =>
      (i.toLong, s"new york $filler")).toDF("doc_id", "text")
    val top = TextAnalysis.pmiTopPairs(planted, k = 5, minCount = 5)
      .collect()
    // "new" and "york" occur ONLY in the pair -> maximal PMI
    assert((top.head.getString(1), top.head.getString(2)) ==
      ("new", "york"), top.map(_.toString).mkString("\n"))
    assert(top.head.getLong(3) == 20L)
  }

  test("approx_count_distinct tracks exact vocabulary within the rsd bound") {
    val tok = docs.select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val approx = tok.groupBy(col("source"))
      .agg(approx_count_distinct(col("token"), rsd = 0.02).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = tok.groupBy(col("source"))
      .agg(countDistinct(col("token")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (s, e) =>
      val a = approx(s)
      assert(math.abs(a - e).toDouble / e < 0.1,
        s"source $s: approx $a vs exact $e")
    }
  }

  test("gumbelTopK: deterministic, k-bounded, weight-dominated") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i == 7) 100.0 else 0.0))
      .toDF("doc_id", "w")
    val top = Sampling.gumbelTopK(df, col("w"), k = 10).collect()
    assert(top.length == 10)
    // a weight 100 nats above the field always survives (max Gumbel
    // noise here is ~ln(2^32) ≈ 22)
    assert(top.map(_.getLong(0)).contains(7L))
    assert(top.map(_.getLong(0)).toSeq ==
      Sampling.gumbelTopK(df, col("w"), k = 10)
        .collect().map(_.getLong(0)).toSeq)
  }

  test("pplBuckets: buckets partition each language, head outscores tail") {
    val out = TextAnalysis.pplBucketsScored(docs,
        TextAnalysis.bigramLmScore(docs, docs), nBuckets = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._4).toSet == Set(1L, 2L, 3L))
    // per language: bucket sizes differ by at most 1 (ntile contract)
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._4).view.mapValues(_.size).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"$lang ntile sizes $sizes")
      // every head doc scores >= every tail doc
      val head = rows.filter(_._4 == 1L).map(_._3)
      val tail = rows.filter(_._4 == 3L).map(_._3)
      assert(head.min >= tail.max, s"$lang head/tail scores overlap")
    }
  }

  test("ccnetFilter: kept slice = buckets <= keep, schema preserved") {
    val scored = TextAnalysis.bigramLmScore(docs, docs)
    val tiers = TextAnalysis.pplBucketsScored(docs, scored, nBuckets = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val kept = TextAnalysis.ccnetFilterScored(docs, scored, nBuckets = 3,
      keepBuckets = 2)
    assert(kept.columns.toSeq ==
      docs.columns.toSeq :+ "ppl_bucket")
    val got = kept.select("doc_id", "ppl_bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == tiers.filter(_._2 <= 2L))
  }

  test("misra-gries: superset guarantee, merge-order independence, " +
      "heavyHitters exact") {
    import spark.implicits._
    // skewed stream: token i appears 2^(10-i) times, i = 0..10, plus
    // 500 singletons — vocab 511 >> m = 8 counters, so the sketch
    // genuinely decrements
    val rows = (0 to 10).flatMap(i => Seq.fill(1 << (10 - i))(s"t$i")) ++
      (0 until 500).map(i => s"rare$i")
    val n = rows.size.toLong
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 4, 13)) {
      val toks = rows.toDF("token").repartition(parts)
      val (cand, total) = HeavyHitters.summarize(toks, m = 8)
      assert(total == n)
      assert(cand.size <= 8)
      // every item above n/(m+1) must be in the summary
      val must = exact.filter(_._2 > n / 9.0).keySet
      assert(must.subsetOf(cand.keySet),
        s"parts=$parts missing ${must -- cand.keySet}")
      // MG counters undercount by at most n/(m+1)
      cand.foreach { case (t, c) =>
        assert(c <= exact(t) && exact(t) - c <= n / 9.0 + 1) }
    }
    val docs = rows.grouped(40).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val k = 10
    val hh = HeavyHitters.heavyHitters(docs, k = k, counters = 12)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(hh == exact.filter(_._2 * k > n).toMap)
  }

  test("substringDupSpans: planted shared run found with exact offsets") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"dup$i").mkString(" ")
    val a = s"a0 a1 a2 $shared a3 a4"           // run at tokens 4..15
    val b = s"b0 $shared b1 b2 b3 b4 b5"        // run at tokens 2..13
    val c = (0 until 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(docs, l = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // 12 shared tokens, l=8 -> 5 duplicated windows, one maximal span
    assert(spans == Set((1L, 4L, 12L, 5L), (2L, 2L, 12L, 5L)),
      s"got $spans")
    // within-doc repeats count too
    val self = Seq((9L, s"$shared x y z $shared")).toDF("doc_id", "text")
    val selfSpans = Dedup.substringDupSpans(self, l = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(selfSpans == Set((1L, 12L), (16L, 12L)), s"got $selfSpans")
  }

  test("cluster index: persisted artifact reproduces nearDupDedup; " +
      "no pair recompute at query time") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base.replace("tok30", "chA")),
      (3L, base.replace("tok31", "chB")),
      (4L, (0 until 60).map(i => s"zzz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = graft.Scratch.root + "/cluster_index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // the cluster table as a corpus-version artifact: components
    // persisted once, then consumed through keepRepresentatives
    Dedup.connectedComponents(Dedup.minHashPairs(docs, threshold = 0.5))
      .write.parquet(dir)
    def indexed = Dedup.keepRepresentatives(docs, spark.read.parquet(dir))
    val kept = indexed.select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Dedup.nearDupDedup(docs, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == direct && kept == Set(1L, 4L))
    // the query-time plan reads the index, not the pair pipeline:
    // no minhash signature kernel in it
    val plan = indexed.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("minhash"),
      s"index path must not recompute signatures:\n${plan.take(1200)}")
  }

  test("overlapFraction: contained doc = 1.0, disjoint = 0.0, tau gates") {
    import spark.implicits._
    val benchTxt = (0 until 20).map(i => s"b$i").mkString(" ")
    val bench = Seq((100L, benchTxt)).toDF("doc_id", "text")
    val contained = (5 until 15).map(i => s"b$i").mkString(" ")
    val half = ((10 until 18).map(i => s"b$i") ++
      (0 until 9).map(i => s"x$i")).mkString(" ")
    val clean = (0 until 20).map(i => s"z$i").mkString(" ")
    val corpus = Seq((1L, contained), (2L, half), (3L, clean))
      .toDF("doc_id", "text")
    val out = Contamination.overlapFraction(corpus, bench, n = 3,
        tau = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((1.0, true)), s"got ${out(1L)}")
    assert(out(3L) == ((0.0, false)), s"got ${out(3L)}")
    // half: 17 tokens -> 15 trigrams, 6 of them inside b10..b17
    assert(out(2L)._1 == math.round(6.0 / 15 * 1e6) / 1e6)
    assert(!out(2L)._2)
  }

  test("bm25TopK: hand-computed scores, tf saturation, no-match empty") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple apple pear plum"),          // tf(apple)=2, dl=4
      (2L, "apple banana"),                   // tf(apple)=1, dl=2
      (3L, "cherry cherry cherry")            // no apple
    ).toDF("doc_id", "text")
    val q = Seq((10L, "apple apple")).toDF("query_id", "text")
    val out = TextAnalysis.bm25TopK(corpus, q, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    def score(tf: Long, dl: Long): Double = {
      val n = 3.0; val df = 2.0; val avgdl = 9.0 / 3.0
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val v = idf * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl)))
      math.round(v * 1e6) / 1e6
    }
    // duplicate query term counts once (set-query form); doc 3 absent;
    // higher tf on the longer doc still outranks (saturation favors it)
    assert(out.sortBy(_._1).toSeq ==
      Seq((1L, 1L, score(2, 4)), (2L, 2L, score(1, 2))),
      s"got ${out.toSeq}")
    assert(TextAnalysis.bm25TopK(corpus,
      Seq((11L, "zzz")).toDF("query_id", "text"), k = 5).count() == 0)
  }

  test("bm25TopKWeighted: qtf multiplies per-term contributions; " +
       "equals the set form when query terms are distinct") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple apple pear plum"),
      (2L, "apple banana"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    // distinct-term query: bag form must equal set form exactly
    val qDistinct = Seq((10L, "apple banana")).toDF("query_id", "text")
    val setForm = TextAnalysis.bm25TopK(corpus, qDistinct, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bagForm = TextAnalysis.bm25TopKWeighted(corpus, qDistinct, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(setForm.sortBy(_._1).toSeq == bagForm.sortBy(_._1).toSeq)
    // repeated query term: the weighted score is qtf × the set score
    // (one matched term → exact scaling)
    val qRep = Seq((11L, "banana banana banana")).toDF("query_id", "text")
    val set1 = TextAnalysis.bm25TopK(corpus, qRep, k = 5)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val bag3 = TextAnalysis.bm25TopKWeighted(corpus, qRep, k = 5)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(set1.keySet == Set(2L) && bag3.keySet == Set(2L))
    assert(math.abs(bag3(2L) - 3.0 * set1(2L)) < 1e-6,
      s"${bag3(2L)} vs 3x ${set1(2L)}")
  }

  test("blobNearDupPairs: byte-faithful on non-UTF8 binary; tampered " +
       "copy collides, unrelated blob doesn't, short blob excluded") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill[Byte](4096)((rnd.nextInt(256) - 128).toByte)
    val tampered = base.clone()
    tampered(100) = (tampered(100) ^ 0x5A).toByte // one flipped byte
    val other = Array.fill[Byte](4096)((rnd.nextInt(256) - 128).toByte)
    val blobs = Seq(
      (1L, base), (2L, tampered), (3L, other), (4L, Array[Byte](1, 2)))
      .toDF("media_id", "content")
    val pairs = graft.llm.Multimodal.blobNearDupPairs(blobs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"only the tampered copy may collide: $pairs")
    // determinism: interpreted eval and codegen agree (same kernel)
    val sig = graft.functions.SketchExprs.simhashBytes(col("content"))
    val s1 = blobs.select(sig).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(s1(3).isEmpty, "a 2-byte blob has no 4-byte window")
    assert(s1(0).nonEmpty && s1(0) != s1(2))
  }

  test("bpePairStats: adjacent pairs only, counts + doc frequency, " +
       "deterministic tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),   // (a,b)x2 (b,a)x1 (b,c)x1
      (2L, "a b x"),       // (a,b)x1 (b,x)x1
      (3L, "z")            // no pairs (single token)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairStats(docs, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(out.head == ((1L, "a", "b", 3L, 2L)),
      s"top pair: ${out.head}")
    val asMap = out.map(t => (t._2, t._3) -> ((t._4, t._5))).toMap
    assert(asMap(("b", "a")) == ((1L, 1L)))
    assert(asMap(("b", "c")) == ((1L, 1L)))
    assert(asMap(("b", "x")) == ((1L, 1L)))
    assert(!asMap.contains(("a", "a")) && !asMap.contains(("c", "a")),
      "non-adjacent or cross-doc pairs must not appear")
    // ties (all the 1-count pairs) rank lexicographically
    assert(out.map(t => (t._2, t._3)).toSeq ==
      Seq(("a", "b"), ("b", "a"), ("b", "c"), ("b", "x")))
  }

  test("jsDrift: zero for the only source, bounded by ln 2, symmetric " +
       "weighting sees the same skew sourceDrift sees") {
    import spark.implicits._
    val one = Seq((1L, "a b c", "s1"), (2L, "a b", "s1"))
      .toDF("doc_id", "text", "source")
    val lone = TextAnalysis.jsDrift(one).collect()
    assert(lone.length == 1 && lone(0).getDouble(2) == 0.0)
    // a big source that IS most of the corpus mix (low drift) vs a
    // small source concentrated on a token the corpus barely has
    // (high drift — it both misses most corpus mass and spends its
    // own mass where the corpus has little)
    val docs = Seq(
      (1L, "a b c a b c a b c a b c a b c", "rep"),
      (2L, "a b c a b c a b c a b c a b c", "rep"),
      (3L, "z z", "skew"))
      .toDF("doc_id", "text", "source")
    val js = TextAnalysis.jsDrift(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(js.values.forall(v => v >= 0.0 && v <= math.log(2.0) + 1e-9))
    assert(js("skew") > js("rep"),
      s"the concentrated minority source must drift more: $js")
  }

  test("sourceDrift: same-mix sources tie, skewed source diverges most") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y", "a"), (2L, "x y x y", "b"),
      (3L, "x x x x", "c")
    ).toDF("doc_id", "text", "source")
    val kl = TextAnalysis.sourceDrift(docs)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl("a") == kl("b"))
    assert(kl("c") > kl("a") && kl("c") > 0.0, s"got $kl")
  }

  test("substringDupSpans corpus invariants: spans disjoint per doc, " +
      "span_len = n_windows + l - 1 >= l") {
    val l = 8
    val spans = Dedup.substringDupSpans(docs, l = l)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(spans.nonEmpty, "testdata must contain duplicated runs")
    spans.foreach { case (_, _, len, nw) =>
      assert(len == nw + l - 1 && len >= l)
    }
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, s1, _, nw1), (_, s2, _, _)) =>
          // maximal islands: >= 1 non-duplicated position between them
          assert(s2 >= s1 + nw1 + 1,
            s"doc $doc islands touch: ${sorted.mkString(", ")}")
        case _ => ()
      }
    }
  }

  test("substringDedup cuts every copy except the globally-first one") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"dup$i").mkString(" ")
    val a = s"a0 a1 a2 $shared a3 a4"
    val b = s"b0 $shared b1 b2 b3 b4 b5"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, l = 8)
      .select("doc_id", "text_clean", "n_tokens_dropped").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == ((a, 0L)), s"canonical doc modified: ${out(1L)}")
    assert(out(2L) == (("b0 b1 b2 b3 b4 b5", 12L)), s"got ${out(2L)}")
    // within-doc repeat: first copy survives, second is cut
    val self = Seq((9L, s"$shared x y z $shared")).toDF("doc_id", "text")
    val sOut = Dedup.substringDedup(self, l = 8).select("text_clean",
      "n_tokens_dropped").head()
    assert(sOut.getString(0) == s"$shared x y z")
    assert(sOut.getLong(1) == 12L)
    // NULL text survives untouched: clean NULL out, 0 dropped
    val withNull = Seq((1L, a), (2L, b), (7L, null: String))
      .toDF("doc_id", "text")
    val nRow = Dedup.substringDedup(withNull, l = 8)
      .filter(col("doc_id") === 7L)
      .select("text_clean", "n_tokens_dropped").head()
    assert(nRow.isNullAt(0) && nRow.getLong(1) == 0L)
  }

  test("winnowPairsManaged: same pairs as the shorthand, close() " +
       "releases the print cache") {
    import org.apache.spark.storage.StorageLevel
    val handle = Dedup.winnowPairsManaged(docs, k = 5, w = 4,
      minShared = 2, maxDf = 50)
    val managed = handle.value.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(handle.parent.storageLevel != StorageLevel.NONE,
      "print stream must be pinned while the plan is live")
    handle.close()
    assert(handle.parent.storageLevel == StorageLevel.NONE)
    val shorthand = Dedup.winnowPairs(docs, k = 5, w = 4,
      minShared = 2, maxDf = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.cache.Pins.release(spark)
    assert(managed == shorthand && managed.nonEmpty)
  }

  test("langPurity: code-switched doc flagged, monolingual doc pure") {
    import spark.implicits._
    val en = "the cat and the dog of the house is that"   // 10 tokens
    val es = "el la de y que en los se algo mas"
    val planted = Seq(
      (1L, s"$en $es $en"),   // 3 chunks: en, es, en -> purity 2/3
      (2L, s"$en $en"))       // pure
      .toDF("doc_id", "text")
    val out = TextAnalysis.langPurity(planted, chunkTokens = 10,
        tau = 0.8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getDouble(3),
         r.getAs[Boolean]("is_mixed"))).toMap
    assert(out(1L) == ((3L, "en", 0.666667, true)), s"${out(1L)}")
    assert(out(2L) == ((2L, "en", 1.0, false)), s"${out(2L)}")
  }

  test("dedupStats: cross-source copy counts against ITS OWN source") {
    import spark.implicits._
    val t = "shared content here"
    val planted = Seq(
      (1L, "A", t), (2L, "B", t),       // B's copy is the duplicate
      (3L, "B", "unique b text"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.dedupStats(planted)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getDouble(5))).toMap
    assert(out("A") == ((1L, 0L, t.length.toLong, 0L, 0.0)))
    assert(out("B") == ((2L, 1L, (t.length + 13).toLong,
      t.length.toLong, 0.5)), s"${out("B")}")
  }

  test("batchNovelty: re-ingested content scores 0, new content 1, " +
       "short docs drop") {
    import spark.implicits._
    val known = "a b c d e f g h i j"
    val corpus = Seq((1L, known)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, known),                         // full re-ingest
      (11L, "p q r s t u v w x y"),         // all new
      (12L, "too short"))
      .toDF("doc_id", "text")
    val out = Dedup.batchNovelty(corpus, batch, n = 8, tau = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("novelty_frac"), r.getAs[Boolean]("is_novel")))
      .toMap
    assert(out.keySet == Set(10L, 11L))
    assert(out(10L) == ((0.0, false)))
    assert(out(11L) == ((1.0, true)))
  }

  test("zipfSlope: exact -1 on a perfect power law, minCount gates " +
       "the tail") {
    import spark.implicits._
    // counts 12/r at ranks 1..4 -> log-log is an exact line of
    // slope -1; a count-1 straggler must be cut by minCount=2
    val text = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd") ++ Seq("once"))
      .mkString(" ")
    val planted = Seq((1L, "s1", text)).toDF("doc_id", "source", "text")
    val out = TextAnalysis.zipfSlope(planted, topV = 100,
        minCount = 2, groupCol = "source").head()
    assert(out.getAs[Long]("n_ranked") == 4L)
    assert(math.abs(out.getAs[Double]("zipf_slope") - (-1.0)) < 1e-6,
      s"slope ${out.getAs[Double]("zipf_slope")}")
  }

  test("secretScan: flags high-entropy keys, passes long natural " +
       "words and non-charset tokens") {
    import spark.implicits._
    val planted = Seq(
      (1L, "deploy with key aB3dE9fGh12KlmNop456QrsTuv78 done"),
      (2L, "the internationalization disestablishmentarianism effort"),
      (3L, "short words only here"),
      (4L, "url http://example.com/a/very/long/path?q=1&r=2 follows"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.secretScan(planted, minLen = 20,
        minEntropy = 2.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(1L)._3, "random-charset 28-char key must flag")
    assert(out(2L) == ((2L, 0L, false)),
      s"long natural words are candidates but low-entropy: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, false)))
    assert(out(4L) == ((0L, 0L, false)),
      "URL fails the charset gate (:/? not key-ish), never a candidate")
  }

  test("winnowPrints: guarantee (shared run >= w+k-1 tokens shares a " +
       "print), density ~2/(w+1), rightmost-min tie rule") {
    import spark.implicits._
    // docs 1 and 2 share an 8-token run (= w + k - 1 with k=5, w=4):
    // the winnowing guarantee promises at least one common print
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val d1 = s"a1 a2 a3 $shared a4 a5 a6"
    val d2 = s"b1 b2 $shared b3 b4 b5 b6 b7"
    val d3 = (1 to 60).map(i => s"c$i").mkString(" ")
    val planted = Seq((1L, d1), (2L, d2), (3L, d3))
      .toDF("doc_id", "text")
    val pr = Dedup.winnowPrints(planted, k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = pr.groupBy(_._1)
    val h1 = byDoc(1L).map(_._3).toSet
    val h2 = byDoc(2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty, "shared 8-token run must share a print")
    assert(byDoc(3L).map(_._3).toSet.intersect(h1).isEmpty)
    // density: doc 3 has 56 grams, 53 windows; expected ~2/5 of
    // positions selected; winnowing bounds it to [1/w, 1] per window
    val n3 = byDoc(3L).length
    assert(n3 >= 53 / 4 && n3 <= 53, s"density out of range: $n3")
    // every selected position's hash is the min of SOME w-window and
    // positions are distinct
    assert(byDoc(3L).map(_._2).distinct.length == n3)
  }

  test("winnowPairs: planted near-dup found, boilerplate print df cap " +
       "suppresses spurious pairs") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    // a 20-token template present in EVERY doc: its interior prints
    // alone would pair the otherwise-disjoint docs 3 and 4
    val boiler = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared $boiler a1 a2 a3"),
      (2L, s"x1 x2 $shared $boiler"),
      (3L, s"$boiler " + (1 to 30).map(i => s"y$i").mkString(" ")),
      (4L, s"$boiler " + (1 to 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.winnowPairs(docs, k = 5, w = 4,
        minShared = 2, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L)),
      s"without the cap the template pairs disjoint docs: $uncapped")
    val pairs = Dedup.winnowPairs(docs, k = 5, w = 4, minShared = 2,
        maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "20-token shared run must pair")
    assert(!pairs.contains((3L, 4L)),
      s"df-capped template prints must not pair disjoint docs: $pairs")
  }

  test("stripSourceBoilerplate: templates are group-local and every " +
       "occurrence is removed") {
    import spark.implicits._
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    def body(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val planted = Seq(
      (1L, "A", s"$header $header ${body("a")}"),  // template twice
      (2L, "A", s"$header ${body("b")}"),
      (3L, "A", s"$header ${body("c")}"),
      (4L, "B", s"$header ${body("d")}"))          // df=1 in B
      .toDF("doc_id", "source", "text")
    val out = Dedup.stripSourceBoilerplate(planted, chunkTokens = 10,
        minDocs = 2, tau = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_clean"),
         r.getAs[Long]("n_chunks_removed"))).toMap
    assert(out(1L) == ((body("a"), 2L)),
      "both in-doc occurrences of the template must go")
    assert(out(2L) == ((body("b"), 1L)))
    assert(out(3L) == ((body("c"), 1L)))
    assert(out(4L) == ((s"$header ${body("d")}", 0L)),
      "the same chunk in a source where it is NOT frequent survives")
  }

  test("rareNgramStats: duplicated docs score zero exposure, unique " +
       "docs score full; short docs drop out") {
    import spark.implicits._
    val shared = "a b c d e f g h i j"        // 10 tokens -> 3 8-grams
    val unique = "p q r s t u v w x y"
    val planted = Seq((1L, shared), (2L, shared), (3L, unique),
        (4L, "short text"))
      .toDF("doc_id", "text")
    val out = Dedup.rareNgramStats(planted, n = 8, rareMax = 1,
        tau = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
         r.getBoolean(5))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "4-token doc has no 8-gram")
    assert(out(1L) == ((3L, 0L, 0L, 0.0, false)),
      "every gram of a duplicated doc has df=2: nothing unique")
    assert(out(2L) == out(1L))
    assert(out(3L) == ((3L, 3L, 3L, 1.0, true)),
      "all grams of the unique doc are globally unique")
  }

  test("rareNgramStats: repeated gram inside ONE doc counts once " +
       "(distinct-per-doc, df stays 1)") {
    import spark.implicits._
    // the 8-gram "a b c d e f g h" occurs twice in doc 1 (positions
    // 1 and 9) but in no other doc -> df must be 1, not 2
    val d1 = "a b c d e f g h a b c d e f g h"
    val planted = Seq((1L, d1), (2L, "m n o p q r s t u")).toDF(
      "doc_id", "text")
    val out = Dedup.rareNgramStats(planted, n = 8, rareMax = 1,
        tau = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // doc1: 9 window positions but duplicates collapse; every
    // surviving distinct gram appears only in doc1 -> all unique
    assert(out(1L)._1 == out(1L)._2,
      s"in-doc repetition must not inflate df: ${out(1L)}")
  }

  test("randProject: duplicates collide, separated clusters stay " +
       "separated, projection is shuffle-free") {
    import spark.implicits._
    val a = (0 until 64).map(i => (i % 7).toFloat / 7f)
    val far = (0 until 64).map(i => 5f + (i % 3).toFloat)
    val fix = Seq((1L, a), (2L, a), (3L, far))
      .toDF("vec_id", "embedding")
    val out = Similarity.randProject(fix, outDim = 8)
    val p = out.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq)
      .toMap
    assert(p(1L) == p(2L), "exact duplicates must project identically")
    def d2(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (u, v) => (u - v) * (u - v) }.sum
    assert(d2(p(1L), p(3L)) > 100 * 1e-12,
      s"far points must stay separated: ${d2(p(1L), p(3L))}")
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"),
      s"projection must be row-local:\n${plan.take(1200)}")
    // the actual JL guarantee on the real corpus: pairwise squared
    // distances concentrate — d2_proj/d2_full ~ chi2(d')/d'
    // (sd = sqrt(2/32) ~ 0.25 at d'=32), so the bulk of pairs must
    // land inside a +-2.8sd band. (These near-isotropic embeddings
    // make top-k RANKING a near-tie shuffle at any compression —
    // distortion, not rank order, is what JL promises; the re-rank
    // stage restores exact order downstream.)
    val real = emb.limit(50)
    val pr = Similarity.randProject(real, outDim = 32).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq)
      .toMap
    val full = real.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    val ids = full.keys.toSeq.sorted
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      df = d2(full(ids(i)), full(ids(j))) if df > 1e-12
    } yield d2(pr(ids(i)), pr(ids(j))) / df
    val inBand = ratios.count(r => r >= 0.3 && r <= 1.7)
    assert(inBand.toDouble / ratios.size >= 0.9,
      s"JL distortion band violated: $inBand/${ratios.size} in band")
  }

  test("sourceTopicMi: label==cell gives ln(k) per-label total; " +
       "label independent of cell gives ~0") {
    import spark.implicits._
    // two tight clusters at x=0 and x=10; centroids seed from the
    // two lowest ids, one per cluster -> cells == clusters
    def vec(x: Double, i: Int) = Seq(x.toFloat, (i % 3) * 0.01f)
    // perfectly dependent: label 0 <-> cell 0, label 1 <-> cell 1
    val dep = ((0 until 8).map(i => (i.toLong * 2, vec(0, i), 0)) ++
      (0 until 8).map(i => (i.toLong * 2 + 1, vec(10, i), 1)))
      .toDF("vec_id", "embedding", "label")
    Similarity.clearTrainedCache()
    val depOut = Similarity.sourceTopicMi(dep, nCells = 2, iters = 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    // corpus MI = ln 2; each label holds half the mass -> ln(2)/2
    assert(depOut.values.forall(v =>
      math.abs(v - math.log(2.0) / 2) < 1e-6), s"$depOut")
    // independent: both labels spread evenly over both clusters
    val ind = ((0 until 8).map(i =>
      (i.toLong * 2, vec(if (i % 2 == 0) 0 else 10, i), 0)) ++
      (0 until 8).map(i =>
        (i.toLong * 2 + 1, vec(if (i % 2 == 0) 0 else 10, i), 1)))
      .toDF("vec_id", "embedding", "label")
    Similarity.clearTrainedCache()
    val indOut = Similarity.sourceTopicMi(ind, nCells = 2, iters = 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(indOut.values.forall(v => math.abs(v) < 1e-6), s"$indOut")
    Similarity.clearTrainedCache()
  }

  test("packPadded: no doc crosses a boundary, oversize docs start " +
       "on one, intervals are disjoint") {
    import spark.implicits._
    val planted = ((1 to 30).map(i =>
      (i.toLong, (1 to (i * 37 % 900 + 10)).map(j => s"w$j")
        .mkString(" "))) :+
      ((99L, (1 to 2500).map(j => s"x$j").mkString(" "))))  // oversize
      .toDF("doc_id", "text")
    val out = Mixing.packPadded(planted, seqTokens = 1024,
        nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // no non-oversize doc crosses its pack boundary
    out.filter(_._2 <= 1024).foreach { case (id, nt, _, _, off) =>
      assert(off + nt <= 1024, s"doc $id crosses: off=$off nt=$nt")
    }
    // the oversize doc starts ON a boundary
    val big = out.find(_._1 == 99L).get
    assert(big._5 == 0L, s"oversize must start on a boundary: $big")
    // token intervals are pairwise disjoint (padding never overlaps)
    val iv = out.map(r => (r._3, r._3 + r._2)).sortBy(_._1).toSeq
    iv.sliding(2).foreach { w =>
      if (w.size == 2)
        assert(w(0)._2 <= w(1)._1, s"overlap: $iv")
    }
    // and packReport over the padded layout reports zero splits for
    // non-oversize docs (the mode's whole point)
    val rep = Mixing.packReport(
      Mixing.packPadded(planted.filter(col("doc_id") =!= 99L),
        seqTokens = 1024, nBuckets = 4), seqTokens = 1024)
    assert(rep.agg(sum(col("n_split"))).head.getLong(0) == 0L)
  }

  test("packReport: per-pack start counts conserve docs; spill " +
       "flags exactly the boundary-crossing docs") {
    import spark.implicits._
    // 5 docs x 600 tokens into 1024-token packs: doc boundaries at
    // 600/1200/1800/2400 -> starts in packs 0,0,1,1,2; the 600- and
    // 1800-start docs cross the 1024/2048 boundaries
    val planted = (1 to 5).map(i =>
      (i.toLong, (1 to 600).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Mixing.packSequencesWindowed(planted, seqTokens = 1024)
    val rep = Mixing.packReport(packed, seqTokens = 1024)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep.values.map(_._1).sum == 5, s"$rep")
    assert(rep.values.map(_._3).sum == 3000, s"$rep")
    // every pack holding 2 starts has exactly 1 spiller (600+600 >
    // 1024); the final pack's single doc ends at 3000 > 2048+1024? no
    // -> derive expected spills from the packing itself
    val expSpill = packed.collect().count(r =>
      r.getAs[Long]("pack_offset") + r.getAs[Long]("n_tokens") > 1024)
    assert(rep.values.map(_._2).sum == expSpill.toLong, s"$rep")
    assert(expSpill > 0, "fixture must actually cross boundaries")
  }

  test("mm dedup chain: tampered re-upload collapses to the lower " +
       "media_id, distinct blob survives") {
    import spark.implicits._
    // high-entropy payload: a short cyclic string would collapse to
    // a handful of distinct 4-byte windows and the one-char tamper
    // would flip too many vote bits
    val rnd = new scala.util.Random(7)
    val payload = Array.fill(2000)(('a' + rnd.nextInt(26)).toChar)
      .mkString
    val other = Array.fill(2000)(('a' + rnd.nextInt(26)).toChar)
      .mkString
    val planted = Seq(
      (1L, payload), (2L, payload.updated(50, 'Z')),  // near-dup pair
      (3L, other)                                      // distinct
    ).toDF("doc_id", "text")
    val blobs = Multimodal.asBlobs(planted, "doc_id", "text", "image")
    val kept = Dedup.keepRepresentatives(blobs,
        Dedup.connectedComponents(
          Multimodal.blobNearDupPairs(blobs, maxDist = 3)),
        idCol = "media_id")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L),
      s"cluster keeps its min id, distinct blob survives: $kept")
  }

  test("qualityCi: Wilson bounds bracket the rate, stay in [0,1], " +
       "and tighten with n") {
    import spark.implicits._
    val good = (1 to 40).map(i => s"word$i").mkString(" ")
    val bad = "x y x y x y x y x y x y"
    // small source: 2 good + 2 bad; big source: 40 good + 10 bad
    val planted = ((1 to 2).map(i => (i.toLong, good, "small")) ++
      (3 to 4).map(i => (i.toLong, bad, "small")) ++
      (10 to 49).map(i => (i.toLong, good, "big")) ++
      (50 to 59).map(i => (i.toLong, bad, "big")))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.qualityCi(planted)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4),
         r.getDouble(5))).toMap
    out.foreach { case (s, (n, rate, lo, hi)) =>
      assert(lo >= 0.0 && hi <= 1.0 && lo <= rate && rate <= hi,
        s"$s: n=$n rate=$rate [$lo, $hi]")
    }
    // the small source's interval must be wider than the big one's
    val wSmall = out("small")._4 - out("small")._3
    val wBig = out("big")._4 - out("big")._3
    assert(wSmall > wBig,
      s"CI must tighten with n: small=$wSmall big=$wBig")
  }

  test("effectiveSize: fully-duplicated source halves its effective " +
       "tokens; cross-source copies charged where they live") {
    import spark.implicits._
    val planted = Seq(
      (1L, "a b c d", "dup"), (2L, "a b c d", "dup"),   // 2x copy
      (3L, "e f g h", "clean"),
      (4L, "a b c d", "leech")   // third copy, in another source
    ).toDF("doc_id", "text", "source")
    val out = Dedup.effectiveSize(planted)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // content "a b c d" has 3 copies -> weight 1/3 each
    assert(out("dup") == ((2L, 8L, 2.666664, 0.666667)),
      s"${out("dup")}")
    assert(out("clean") == ((1L, 4L, 4.0, 0.0)), s"${out("clean")}")
    assert(out("leech")._3 == 1.333332,
      s"the cross-source copy pays its own share: ${out("leech")}")
  }

  test("cdcChunks: chunks partition the token stream; a front " +
       "insertion leaves most chunk hashes intact (shift " +
       "robustness)") {
    import spark.implicits._
    val words = (1 to 400).map(i => s"w${i * 7 % 127}x$i")
    val orig = words.mkString(" ")
    val shifted = "inserted " + orig
    val both = Seq((1L, orig), (2L, shifted)).toDF("doc_id", "text")
    val out = Dedup.cdcChunks(both, n = 4, div = 16).collect()
    val byDoc = out.groupBy(_.getLong(0))
    // partition invariant: chunk token counts sum to the doc length
    assert(byDoc(1L).map(_.getLong(2)).sum == 400)
    assert(byDoc(2L).map(_.getLong(2)).sum == 401)
    // shift robustness: the insertion may only disturb the first
    // chunk(s); the boundary stream re-synchronizes, so the bulk of
    // doc 1's chunks reappear verbatim in doc 2
    val h1 = byDoc(1L).map(_.getString(3)).toSet
    val h2 = byDoc(2L).map(_.getString(3)).toSet
    val survived = h1.intersect(h2).size.toDouble / h1.size
    assert(survived >= 0.8,
      s"CDC must re-synchronize after an insertion: $survived " +
        s"(${h1.size} chunks)")
    // contrast: FIXED 16-token chunking loses every chunk after a
    // 1-token shift (chunkDedup-style grid) — computed inline
    def fixedHashes(ws: Seq[String]) =
      ws.grouped(16).map(_.mkString(" ")).toSet
    val f1 = fixedHashes(words)
    val f2 = fixedHashes("inserted" +: words)
    assert(f1.intersect(f2).size <= 1,
      "fixed grid must shear (else this fixture proves nothing)")
  }

  test("tfidfCosinePairs: rare shared vocabulary pairs up, " +
       "ubiquitous terms carry nothing, zero-norm docs excluded") {
    import spark.implicits._
    val common = "the quick brown fox"   // in every doc -> idf 0
    val planted = Seq(
      (1L, s"$common unicorn rainbow"),
      (2L, s"$common unicorn rainbow"),   // pairs with 1 on rare terms
      (3L, s"$common dragon"),            // rare but unshared
      (4L, common)                        // zero-norm (all idf-0)
    ).toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(planted, minSim = 0.1,
        maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 2L)),
      s"only the rare-vocab pair must surface: ${out.keySet}")
    // docs 1,2 are identical -> unit vectors equal -> sim ~ 1
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-4, s"${out((1L, 2L))}")
  }

  test("stratifiedSplit: exact floor counts per source, stable " +
       "under adding docs to OTHER sources") {
    import spark.implicits._
    val planted = ((1L to 25L).map(i => (i, "A")) ++
      (100L to 103L).map(i => (i, "B"))).toDF("doc_id", "source")
    val out = Sampling.stratifiedSplit(planted, valFrac = 0.2,
      testFrac = 0.2)
    val byS = out.collect()
      .groupBy(r => (r.getString(1), r.getString(2)))
      .view.mapValues(_.length).toMap
    // A: 25 docs -> floor(5) test, floor(5) val, 15 train
    assert(byS(("A", "test")) == 5 && byS(("A", "val")) == 5 &&
      byS(("A", "train")) == 15, s"$byS")
    // B: 4 docs -> floor(0.8)=0 test/val, all train
    assert(byS.get(("B", "test")).isEmpty &&
      byS(("B", "train")) == 4, s"$byS")
    // determinism + isolation: growing B must not move A's rows
    val aBefore = out.filter(col("source") === "A").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val grown = planted.unionByName(
      (200L to 220L).map(i => (i, "B")).toDF("doc_id", "source"))
    val aAfter = Sampling.stratifiedSplit(grown, valFrac = 0.2,
        testFrac = 0.2)
      .filter(col("source") === "A").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(aBefore == aAfter,
      "another source's growth must not reshuffle A's split")
  }

  test("ivfPatchIndex: patched layout equals a fresh rebuild; " +
       "untouched partitions keep their files; rerun is a no-op") {
    import spark.implicits._
    val base = graft.Scratch.root + "/ivfpatch_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // --- real data: patched index == from-scratch rebuild, rerun no-op
    val cents = Similarity.kmeansCentroidsUncached(emb, nCells = 16,
      iters = 2)
    val newC = Similarity.kmeansUpdate(
      emb.filter(col("vec_id") % 2 === 1), cents)
    Similarity.ivfWriteIndex(emb, cents, s"$base/patched")
    val (moved, rewritten) =
      Similarity.ivfPatchIndex(spark, s"$base/patched", newC)
    assert(moved > 0 && rewritten > 0,
      "the odd-batch refresh must migrate something on real data")
    Similarity.ivfWriteIndex(emb, newC, s"$base/rebuilt")
    // partition discovery infers cell_id as int — normalize to long
    def cells(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell_id").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(s"$base/patched") == cells(s"$base/rebuilt"),
      "patched index must be indistinguishable from a rebuild")
    // the centroid sidecar advanced with the patch: the layout serves
    // under newC, as in-memory IVF over the corpus does
    assert(Similarity.servedModel(spark, s"$base/patched",
      Similarity.IvfLayout) == Seq(newC),
      "sidecar must carry the refreshed set exactly")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def srv(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(srv(Similarity.ivfTopKIndexedAuto(spark, s"$base/patched",
        q, k = 5)) ==
      srv(Similarity.ivfTopKWith(newC, emb, q, k = 5)),
      "the patched layout must serve as in-memory IVF under newC")
    // convergence: a second patch with the same centroids moves nothing
    assert(Similarity.ivfPatchIndex(spark, s"$base/patched", newC) ==
      ((0L, 0L)))
    // --- planted: one centroid shift migrates ONE row between two
    // cells; the third cell's partition must keep its files untouched
    def pad(v: Seq[Double]) = v.padTo(64, 0.0)
    val oldP = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)),
      pad(Seq(100.0, 100.0)))
    val newP = Seq(pad(Seq(6.0, 0.0)), pad(Seq(10.0, 0.0)),
      pad(Seq(100.0, 100.0)))
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f).padTo(64, 0.0f)),    // cell 0, stays
      (2L, Seq(7.0f, 0.0f).padTo(64, 0.0f)),    // cell 1 -> cell 0
      (3L, Seq(100.0f, 99.0f).padTo(64, 0.0f))  // cell 2, untouched
    ).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(pts, oldP, s"$base/planted")
    def listing(cell: Long) = Option(new java.io.File(
        s"$base/planted/cell_id=$cell").listFiles())
      .map(_.map(f => (f.getName, f.length, f.lastModified))
        .sortBy(_._1).toSeq)
    val c2Before = listing(2L)
    val (m2, r2) =
      Similarity.ivfPatchIndex(spark, s"$base/planted", newP)
    assert(m2 == 1L && r2 == 2L, s"expected 1 mover / 2 cells: $m2 $r2")
    assert(listing(2L) == c2Before,
      "the untouched cell must keep its files byte-for-byte")
    assert(cells(s"$base/planted") ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
  }

  test("filtered ANN: predicate-restricted top-k equals brute top-k " +
       "over the filtered candidates of the probed cells; attribute " +
       "columns survive an in-place patch") {
    val base = graft.Scratch.root + "/ann_filtered_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cents = Similarity.kmeansCentroidsUncached(emb, nCells = 16,
      iters = 2)
    Similarity.ivfWriteIndex(emb.withColumn("grp", col("vec_id") % 5),
      cents, base, attrCols = Seq("grp"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def srv(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val filtered = srv(Similarity.ivfTopKIndexedWhere(spark, base,
      q, k = 5, predicate = col("grp") === 2))
    // reference: the same probe path over a corpus PRE-restricted to
    // the predicate — filtered search must equal filter-then-search
    // within the probed cells
    val want = srv(Similarity.ivfTopKWith(cents,
      emb.filter(col("vec_id") % 5 === 2), q, k = 5))
    assert(filtered.nonEmpty && filtered == want,
      "filtered search must equal filter-then-search")
    assert(filtered.forall(_._3 % 5 == 2),
      "every returned neighbor honors the predicate")
    // a patch rewrite must CARRY the attribute columns: patch to a
    // refreshed set, then filtered search still works and every row
    // of the index still has its grp
    val newC = Similarity.kmeansUpdate(
      emb.filter(col("vec_id") % 2 === 1), cents)
    val (moved, _) = Similarity.ivfPatchIndex(spark, base, newC)
    assert(moved > 0, "refresh must migrate something on real data")
    val idx = spark.read.parquet(base)
    assert(idx.filter(col("grp").isNull).count() == 0 &&
      idx.filter(col("grp") =!= col("vec_id") % 5).count() == 0,
      "attribute columns must survive the patch rewrite intact")
    val afterPatch = srv(Similarity.ivfTopKIndexedWhere(spark,
      base, q, k = 5, predicate = col("grp") === 2))
    val wantPatched = srv(Similarity.ivfTopKWith(newC,
      emb.filter(col("vec_id") % 5 === 2), q, k = 5))
    assert(afterPatch == wantPatched,
      "filtered serve over the patched layout must equal " +
        "filter-then-search under the refreshed centroids")
  }

  test("epochShuffle: deterministic per-epoch permutation — rerun " +
       "identical, shards balanced, a different epoch reassigns " +
       "~(1 - 1/nShards) of docs") {
    val frame = spark.range(2000).toDF("doc_id")
    val s1 = Mixing.epochShuffle(frame, epoch = 1, nShards = 8)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "ord").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(key(s1) == key(Mixing.epochShuffle(frame, 1, 8)),
      "same epoch must be bit-identical on rerun")
    val counts = s1.groupBy("shard").count()
      .collect().map(_.getLong(1))
    assert(counts.length == 8 &&
      counts.max < counts.min * 1.5,
      s"2000 docs over 8 shards must balance: ${counts.toSeq}")
    val moved = s1.select(col("doc_id"), col("shard").as("s1"))
      .join(Mixing.epochShuffle(frame, 2, 8)
        .select(col("doc_id"), col("shard").as("s2")), "doc_id")
    val frac = moved.filter(col("s1") =!= col("s2")).count()
      .toDouble / 2000
    assert(frac > 0.8 && frac < 0.95,
      s"epoch 2 must be an independent permutation (expect ~0.875 " +
        s"reassigned): $frac")
  }

  test("epochRepeats: floor(epochs) full passes + a hash-thinned " +
       "fractional pass; token mass lands the plan's target; pure " +
       "function of (corpus, weights)") {
    import spark.implicits._
    // 100 docs x 3 tokens per source -> 300 tokens available each
    val d = (0 until 100).flatMap(i => Seq(
        (i.toLong, "t t t", "a"), ((100 + i).toLong, "t t t", "b")))
      .toDF("doc_id", "text", "source")
    // a: target floor(750*0.6)=450 tokens of 300 avail -> 1.5 epochs
    // b: target floor(750*0.4)=300 tokens of 300 avail -> 1.0 epochs
    val rep = Mixing.epochRepeats(d,
      weights = Map("a" -> 0.6, "b" -> 0.4), targetTokens = 750L)
    val perDoc = rep.filter(col("source") === "a")
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(perDoc.forall(c => c == 1 || c == 2),
      "1.5 epochs = every doc once, about half twice")
    val aInstances = rep.filter(col("source") === "a").count()
    assert(aInstances > 120 && aInstances < 180,
      s"expect ~150 instances of source a (1.5 epochs): $aInstances")
    // an integral epoch count has NO fractional pass: exactly once
    assert(rep.filter(col("source") === "b").groupBy("doc_id")
        .count().filter(col("count") =!= 1L).count() == 0,
      "1.0 epochs = every doc exactly once")
    val again = Mixing.epochRepeats(d,
      weights = Map("a" -> 0.6, "b" -> 0.4), targetTokens = 750L)
    assert(rep.select("doc_id", "repeat_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      again.select("doc_id", "repeat_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "the emitted multiset is a pure function of inputs")
  }

  test("epochShuffleWrite: shard files hold contiguous sorted ord " +
       "ranges — reading a shard's files in name order replays the " +
       "epoch permutation without a global sort") {
    val base = graft.Scratch.root + "/epoch_write"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val frame = spark.range(3000).toDF("doc_id")
    val shuf = Mixing.epochShuffle(frame, epoch = 3, nShards = 4)
    Mixing.epochShuffleWrite(shuf, nShards = 4, outDir = base,
      filesPerShard = 3)
    val shardDirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == 4, shardDirs.map(_.getName).toSeq)
    var total = 0L
    shardDirs.foreach { sd =>
      val files = sd.listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val ords = files.flatMap { f =>
        spark.read.parquet(f.getAbsolutePath)
          .select("ord", "doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      total += ords.length
      // concatenation in file-name order IS the (ord, id) order
      assert(ords.sameElements(ords.sorted),
        s"${sd.getName}: files must concatenate sorted " +
          s"(${files.length} files, ${ords.length} rows)")
    }
    assert(total == 3000, s"every row lands exactly once: $total")
    // the written layout matches the logical assignment
    val back = spark.read.parquet(base)
    assert(back.select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      shuf.select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet,
      "partition dirs must carry the shard assignment")
  }

  test("curriculumOrder: clearing every threshold lands band 0; " +
       "band-major write face serves highest quality first, " +
       "pseudo-random within a band") {
    import spark.implicits._
    val d = (0 until 400).map(i =>
        (i.toLong, (i % 4) match {
          case 0 => 100.0; case 1 => 300.0; case 2 => 700.0
          case _ => 2000.0
        }))
      .toDF("doc_id", "score")
    val co = Mixing.curriculumOrder(d, col("score"),
      thresholds = Seq(200.0, 500.0, 1000.0), epoch = 1, nShards = 4)
    val bands = co.select("score", "band").distinct().collect()
      .map(r => (r.getDouble(0), r.getInt(1))).toMap
    assert(bands == Map(100.0 -> 3, 300.0 -> 2, 700.0 -> 1,
      2000.0 -> 0), s"inverted threshold fold: $bands")
    // write band-major, then each shard's files concatenate sorted
    // by (band, ord) — the loader's curriculum schedule
    val base = graft.Scratch.root + "/curriculum_write"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Mixing.epochShuffleWrite(co, nShards = 4, outDir = base,
      filesPerShard = 2, orderCols = Seq("band", "ord"))
    new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("shard=")).foreach { sd =>
        val rows = sd.listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .flatMap(f => spark.read.parquet(f.getAbsolutePath)
            .select("band", "ord").collect()
            .map(r => (r.getInt(0), r.getLong(1))))
        assert(rows.sameElements(rows.sorted),
          s"${sd.getName} must serve band-major")
      }
  }

  test("pqFitReport: the training corpus gauges lower distortion " +
       "than a shifted stream; beyond-tau flags the drifted rows") {
    val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
    def rep(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqFitReport(df, books, tau = 1.0).head()
    val fit = rep(emb)
    val drifted = rep(emb.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x + lit(100.0f)).as("embedding")))
    assert(drifted.getDouble(1) > fit.getDouble(1) * 100,
      s"shift must dominate the distortion gauge: " +
        s"${fit.getDouble(1)} vs ${drifted.getDouble(1)}")
    assert(drifted.getDouble(3) == 1.0,
      "every shifted row is beyond tau")
  }

  test("pq delta ingest: appended codes serve the one-shot encode; " +
       "compaction preserves serving and rewrites only receiving " +
       "buckets; patch refuses a standing delta; takedown scrubs " +
       "both faces") {
    val base = graft.Scratch.root + "/pq_delta_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
    Similarity.pqWriteIndex(emb.filter(col("vec_id") % 2 === 0),
      books, base)
    val odd = emb.filter(col("vec_id") % 2 =!= 0)
    assert(Similarity.pqAppendBatch(spark, base, odd, batchId = 0L)
      == odd.count())
    // replay of the same batch REPLACES: the returned count is the
    // write's own, so the segment itself must hold one copy
    assert(Similarity.pqAppendBatch(spark, base, odd, batchId = 0L)
      == odd.count(), "re-append must replace, not double-ingest")
    assert(spark.read.parquet(s"$base/_delta").count() == odd.count(),
      "the replayed delta must hold the batch once")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def srv(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val oneShot = srv(Similarity.pqTopK(emb, q, books, k = 10))
    assert(srv(Similarity.pqTopKIndexedAuto(spark, base, q, k = 10))
      == oneShot, "main ∪ delta must serve the one-shot encode")
    val exP = intercept[IllegalArgumentException] {
      Similarity.pqPatchIndexAuto(spark, base, emb,
        Similarity.pqCodebooks(odd, m = 4, k = 16, iters = 2))
    }
    assert(exP.getMessage.contains("pqCompactDelta"), exP.getMessage)
    val (rowsM, bucketsM) = Similarity.pqCompactDelta(spark, base)
    assert(rowsM == odd.count() && bucketsM > 0)
    assert(!new java.io.File(s"$base/_delta").exists())
    assert(srv(Similarity.pqTopKIndexedAuto(spark, base, q, k = 10))
      == oneShot, "compaction must not change serving")
    assert(Similarity.pqCompactDelta(spark, base) == ((0L, 0L)))
    // takedown reaches a fresh delta AND main
    import spark.implicits._
    Similarity.pqAppendBatch(spark, base,
      odd.limit(5).withColumn("vec_id", col("vec_id") + 1000000L),
      batchId = 1L)
    val tdIds = (odd.limit(5).collect().map(_.getLong(0)).take(2)
      .map(_ + 1000000L) ++
      emb.filter(col("vec_id") % 2 === 0).limit(1).collect()
        .map(_.getLong(0))).toSeq
    val (rmT, _) = graft.llm.Takedown.pqTakedown(spark, base,
      tdIds.toDF("vec_id"))
    assert(rmT == tdIds.length,
      s"pq takedown must reach delta AND main: $rmT vs ${tdIds.length}")
  }

  test("a takedown that empties _delta does not block a later IVF " +
       "or PQ patch") {
    import spark.implicits._
    val base = graft.Scratch.root + "/emptied_delta_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val main = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 =!= 0)
    val ten = odd.orderBy(col("vec_id")).limit(10)
    val tenIds = ten.select("vec_id").collect().map(_.getLong(0)).toSeq
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def srv(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    // append 10 vectors, take all 10 down: `_delta` stands, empty
    def emptyDelta(dir: String, append: () => Long,
                   takedown: () => (Long, Long)): Unit = {
      assert(append() == 10L)
      assert(takedown()._1 == 10L)
      assert(new java.io.File(s"$dir/_delta").isDirectory &&
        !new java.io.File(s"$dir/_delta").list()
          .exists(_.startsWith("ingest_batch=")),
        "the takedown must leave an emptied _delta behind")
    }
    val ivf = s"$base/ivf"
    val cents = Similarity.kmeansCentroidsUncached(emb, nCells = 16,
      iters = 2)
    Similarity.ivfWriteIndex(main, cents, ivf)
    emptyDelta(ivf,
      () => Similarity.ivfAppendBatch(spark, ivf, ten, batchId = 0L),
      () => graft.llm.Takedown.ivfTakedown(spark, ivf,
        tenIds.toDF("vec_id")))
    val newC = Similarity.kmeansUpdate(odd, cents)
    Similarity.ivfPatchIndex(spark, ivf, newC)
    assert(srv(Similarity.ivfTopKIndexedAuto(spark, ivf, q, k = 10)) ==
      srv(Similarity.ivfTopKWith(newC, main, q, k = 10)),
      "the patched IVF layout serves the refreshed centroids")
    val pq = s"$base/pq"
    val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
    Similarity.pqWriteIndex(main, books, pq)
    emptyDelta(pq,
      () => Similarity.pqAppendBatch(spark, pq, ten, batchId = 0L),
      () => graft.llm.Takedown.pqTakedown(spark, pq,
        tenIds.toDF("vec_id")))
    val newBooks = Similarity.pqCodebooks(odd, m = 4, k = 16, iters = 2)
    Similarity.pqPatchIndexAuto(spark, pq, main, newBooks)
    assert(srv(Similarity.pqTopKIndexedAuto(spark, pq, q, k = 10)) ==
      srv(Similarity.pqTopK(main, q, newBooks, k = 10)),
      "the patched PQ table serves the refreshed books")
  }

  test("ivf delta ingest: append replay replaces; compaction folds " +
       "the segment into exactly the affected cells (others " +
       "byte-identical) with identical serving; patch refuses a " +
       "standing delta; takedown scrubs the delta; a committed " +
       "compact swap is replayed from its marker") {
    val base = graft.Scratch.root + "/ivf_delta_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cents = Similarity.kmeansCentroidsUncached(emb, nCells = 16,
      iters = 2)
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0),
      cents, base)
    val odd = emb.filter(col("vec_id") % 2 =!= 0)
    val n1 = Similarity.ivfAppendBatch(spark, base, odd, batchId = 0L)
    assert(n1 == odd.count())
    // replay of the same batch REPLACES (overwrite discipline)
    assert(Similarity.ivfAppendBatch(spark, base, odd, batchId = 0L)
      == n1, "re-append must replace, not double-ingest")
    assert(spark.read.parquet(s"$base/_delta").count() == n1,
      "the replayed delta must hold the batch once")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def srv(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val served = srv(Similarity.ivfTopKIndexedAuto(spark, base, q,
      k = 10))
    val oneShot = srv(Similarity.ivfTopKWith(cents, emb, q, k = 10))
    assert(served == oneShot,
      "main ∪ delta must serve the one-shot-build ranking")
    // a patch over a standing delta would strand its assignments
    val exP = intercept[IllegalArgumentException] {
      Similarity.ivfPatchIndex(spark, base,
        Similarity.kmeansUpdate(odd, cents))
    }
    assert(exP.getMessage.contains("ivfCompactDelta"), exP.getMessage)
    // compaction: only delta-receiving cells rewrite; an untouched
    // cell (if any) keeps its files; serving identical; rerun (0,0)
    val deltaCells = spark.read.parquet(s"$base/_delta")
      .select(col("cell_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val untouched = spark.read.parquet(base)
      .select(col("cell_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).filterNot(deltaCells).sorted.headOption
    def listing(cell: Long) = Option(new java.io.File(
        s"$base/cell_id=$cell").listFiles())
      .map(_.map(f => (f.getName, f.length, f.lastModified))
        .sortBy(_._1).toSeq)
    val before = untouched.map(listing)
    val (rowsM, cellsM) = Similarity.ivfCompactDelta(spark, base)
    assert(rowsM == n1 && cellsM == deltaCells.size.toLong,
      s"compact audit: $rowsM/$cellsM")
    assert(!new java.io.File(s"$base/_delta").exists())
    untouched.foreach(c => assert(listing(c) == before.get,
      s"cell $c took no delta rows and must keep its files"))
    assert(srv(Similarity.ivfTopKIndexedAuto(spark, base, q, k = 10))
      == oneShot, "serving must be unchanged by compaction")
    assert(Similarity.ivfCompactDelta(spark, base) == ((0L, 0L)))
    // takedown scrubs BOTH faces: re-append, then take down ids that
    // live in the delta and in main
    Similarity.ivfAppendBatch(spark, base,
      emb.filter(col("vec_id") % 10 === 1)
        .withColumn("vec_id", col("vec_id") + 1000000L),
      batchId = 1L)
    import spark.implicits._
    val tdIds = (emb.filter(col("vec_id") % 10 === 1)
      .select(col("vec_id") + 1000000L).collect().map(_.getLong(0))
      .take(3) ++ emb.limit(1).collect().map(_.getLong(0))).toSeq
    val (rmT, _) = graft.llm.Takedown.ivfTakedown(spark, base,
      tdIds.toDF("vec_id"))
    assert(rmT == tdIds.length,
      s"takedown must reach delta AND main rows: $rmT vs ${tdIds.length}")
    val left = spark.read.parquet(base).select("vec_id")
      .collect().map(_.getLong(0)).toSet ++
      spark.read.parquet(s"$base/_delta").select("vec_id")
        .collect().map(_.getLong(0)).toSet
    assert(tdIds.forall(!left.contains(_)),
      "no taken-down id may survive in either face")
    // crash recovery: manufacture the committed worst point of a
    // compact (fresh cell content + marker written, live cell NOT yet
    // swapped, delta still present) — any maintenance entry completes
    // it: the fresh content replaces the cell and the delta vanishes
    val cell = spark.read.parquet(s"$base/_delta")
      .select(col("cell_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).min
    val freshRows = spark.read.parquet(base)
      .filter(col("cell_id") === cell).drop("cell_id")
      .unionByName(spark.read.parquet(s"$base/_delta")
        .filter(col("cell_id") === cell)
        .drop("cell_id", "ingest_batch"))
    val wantCell = freshRows.count()
    freshRows.coalesce(1).write
      .parquet(s"$base/_takedown_tmp/cell_id=$cell")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/_takedown_tmp",
        "_TAKEDOWN_COMMIT"),
      s"1 cell_id=$cell\n0 _delta\n".getBytes("UTF-8"))
    graft.llm.Swap.completePending(spark, base)
    assert(!new java.io.File(s"$base/_delta").exists(),
      "recovery must finish the delta delete")
    assert(spark.read.parquet(base)
      .filter(col("cell_id") === cell).count() == wantCell,
      "recovery must land the committed fresh cell content")
  }

  test("pqPatchIndex: patched code table equals a fresh rebuild; " +
       "untouched buckets keep their files byte-for-byte; rerun and " +
       "same-books patches are no-ops") {
    import spark.implicits._
    val base = graft.Scratch.root + "/pqpatch_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // --- real data: patch == from-scratch rebuild under the new books
    val books = Similarity.pqCodebooks(emb, m = 4, k = 16, iters = 2)
    val newBooks = Similarity.pqCodebooks(
      emb.filter(col("vec_id") % 2 === 1), m = 4, k = 16, iters = 2)
    Similarity.pqWriteIndex(emb, books, s"$base/patched")
    val (moved, rewritten) = Similarity.pqPatchIndexAuto(spark,
      s"$base/patched", emb, newBooks)
    assert(moved > 0 && rewritten > 0,
      "the odd-half retrain must re-code something on real data")
    Similarity.pqWriteIndex(emb, newBooks, s"$base/rebuilt")
    def codes(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(s"$base/patched") == codes(s"$base/rebuilt"),
      "patched code table must be indistinguishable from a rebuild")
    // the books sidecar advanced with the patch, so the serve and a
    // later patch run under the refreshed books
    assert(Similarity.servedModel(spark, s"$base/patched",
      Similarity.PqLayout) == newBooks,
      "sidecar must carry the refreshed books")
    // convergence: re-running the same patch moves nothing (the old
    // books, read from the sidecar, already equal the new ones)
    assert(Similarity.pqPatchIndexAuto(spark, s"$base/patched", emb,
      newBooks) == ((0L, 0L)))
    // served results from the patched table == from the rebuilt one
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def serve(dir: String) = Similarity.pqTopKIndexedAuto(spark, dir,
        q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(serve(s"$base/patched") == serve(s"$base/rebuilt"))
    // --- planted: one sub-centroid shift re-codes ONE row; only its
    // bucket is rewritten, the other buckets keep their files
    val oldP = Seq(Seq(Seq(0.0, 0.0), Seq(10.0, 0.0)),
      Seq(Seq(0.0, 0.0), Seq(10.0, 0.0)))
    val newP = Seq(Seq(Seq(6.0, 0.0), Seq(10.0, 0.0)),
      Seq(Seq(0.0, 0.0), Seq(10.0, 0.0)))
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),  // codes [0,0] both ways
      (2L, Seq(7.0f, 0.0f, 1.0f, 0.0f)),  // [1,0] -> [0,0]: changes
      (3L, Seq(1.0f, 0.0f, 9.0f, 0.0f)))  // codes [0,1] both ways
      .toDF("vec_id", "embedding")
    Similarity.pqWriteIndex(pts, oldP, s"$base/planted", nBuckets = 4)
    def listing(b: Long) = Option(new java.io.File(
        s"$base/planted/pq_bucket=$b").listFiles())
      .map(_.map(f => (f.getName, f.length, f.lastModified))
        .sortBy(_._1).toSeq)
    val (b1Before, b3Before) = (listing(1L), listing(3L))
    val (m2, r2) = Similarity.pqPatchIndexAuto(spark, s"$base/planted",
      pts, newP, nBuckets = 4)
    assert(m2 == 1L && r2 == 1L, s"expected 1 row / 1 bucket: $m2 $r2")
    assert(listing(1L) == b1Before && listing(3L) == b3Before,
      "untouched buckets must keep their files byte-for-byte")
    assert(codes(s"$base/planted") == Map(
      1L -> Seq(0L, 0L), 2L -> Seq(0L, 0L), 3L -> Seq(0L, 1L)))
  }

  test("ivfPatchIndex crash recovery: a COMMITTED swap tmp is " +
       "replayed on entry (no rows lost, even mid-swap); an " +
       "uncommitted one is discarded as garbage") {
    import spark.implicits._
    val base = graft.Scratch.root + "/ivfpatch_crash"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    def pad(v: Seq[Double]) = v.padTo(64, 0.0)
    val oldP = Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)),
      pad(Seq(100.0, 100.0)))
    val newP = Seq(pad(Seq(6.0, 0.0)), pad(Seq(10.0, 0.0)),
      pad(Seq(100.0, 100.0)))
    val v1 = Seq(1.0f, 0.0f).padTo(64, 0.0f)
    val v2 = Seq(7.0f, 0.0f).padTo(64, 0.0f)
    val v3 = Seq(100.0f, 99.0f).padTo(64, 0.0f)
    val pts = Seq((1L, v1), (2L, v2), (3L, v3))
      .toDF("vec_id", "embedding")
    val dir = s"$base/idx"
    Similarity.ivfWriteIndex(pts, oldP, dir)
    // Reconstruct the exact on-disk state of a patch to newP that
    // crashed at the WORST point: tmp fully written + committed
    // (marker present: cell 0 has fresh content — rows 1,2 — and
    // cell 1's new content is empty), live cell_id=1 already deleted
    // (the delete-first step), fresh cell 0 NOT yet renamed in. Row 2
    // now exists ONLY inside the swap tmp.
    val tmp = s"$dir/_takedown_tmp"
    Seq((1L, v1, 0L), (2L, v2, 0L))
      .toDF("vec_id", "embedding", "cell_id")
      .write.partitionBy("cell_id").parquet(tmp)
    // the crashed patch had also staged the refreshed centroid
    // sidecar as the marker's last entry — recovery must swap it in
    // along with the cells
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_centroids.txt"),
      newP.zipWithIndex.map { case (v, i) =>
        s"0 $i " + v.map(_.toString).mkString(" ")
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_TAKEDOWN_COMMIT"),
      "1 cell_id=0\n0 cell_id=1\n1 _centroids.txt\n".getBytes("UTF-8"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/cell_id=1"))
    // rerun of the same patch: entry recovery completes the swap from
    // tmp, then the recompute finds a converged index — nothing moves
    assert(Similarity.ivfPatchIndex(spark, dir, newP) == ((0L, 0L)))
    def cellMap() = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell_id").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cellMap() == Map(1L -> 0L, 2L -> 0L, 3L -> 2L),
      "recovery must land row 2 in cell 0 — not lose it")
    assert(!new java.io.File(tmp).exists(), "tmp cleared after recovery")
    assert(Similarity.servedModel(spark, dir, Similarity.IvfLayout)
        == Seq(newP),
      "recovery must finalize the staged centroid sidecar too")
    // an UNCOMMITTED tmp (write crashed before the marker) never
    // touched the live index — it is garbage, discarded on entry
    Seq((99L, v3, 0L)).toDF("vec_id", "embedding", "cell_id")
      .write.partitionBy("cell_id").parquet(tmp)
    assert(Similarity.ivfPatchIndex(spark, dir, newP) == ((0L, 0L)))
    assert(cellMap() == Map(1L -> 0L, 2L -> 0L, 3L -> 2L),
      "pre-commit garbage must not leak phantom rows into the index")
    assert(!new java.io.File(tmp).exists())
  }

  test("bm25 postings layer: replay replaces, compaction preserves " +
       "the served ranking, layered == one-shot bit-for-bit") {
    import spark.implicits._
    val base = graft.Scratch.root + "/bm25layer_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpus = docs.filter(col("doc_id") % 100 =!= 0)
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 8), " ")
          .as("text"))
    val b0 = corpus.filter(col("doc_id") % 2 === 0)
    val b1 = corpus.filter(col("doc_id") % 2 =!= 0)
    TextAnalysis.bm25PostingsBatch(b0, base, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(b1, base, batchId = 1L)
    def serve() = TextAnalysis.bm25TopKFromPostings(spark, base, qs,
        k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val want = TextAnalysis.bm25TopK(corpus, qs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(want.nonEmpty)
    assert(serve() == want,
      "layered index must serve the one-shot ranking bit-for-bit")
    // at-least-once replay: republishing a batch under its own id
    // replaces both postings and stats — nothing double-counts
    TextAnalysis.bm25PostingsBatch(b1, base, batchId = 1L)
    spark.catalog.refreshByPath(s"$base/postings")
    spark.catalog.refreshByPath(s"$base/stats")
    assert(serve() == want, "replay must replace, never double-count")
    // small-files compaction on BOTH subdirs keeps the ranking
    graft.streaming.IngestStream.ingestLayerCompact(spark,
      s"$base/postings", watermark = 1L)
    graft.streaming.IngestStream.ingestLayerCompact(spark,
      s"$base/stats", watermark = 1L)
    assert(serve() == want, "compaction must preserve the ranking")
  }

  test("bm25 impact pruning: pruned == full bit-for-bit; the bound " +
       "PROVES exactness on selective queries, saturated queries " +
       "fall back, absent-term queries are empty both ways") {
    import spark.implicits._
    val base = graft.Scratch.root + "/bm25prune_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // planted corpus: uniform filler (df = 200, identical tf/dl so a
    // filler query's theta EQUALS its tail bound -> must fall back)
    // + one rare term per 20-doc group (df = 10 <= sliceM -> tail 0,
    // the bound proves the slice answer exact)
    val corpus = (0 until 200).map { i =>
      (i.toLong, s"the of and rare${i % 20} the of")
    }.toDF("doc_id", "text")
    TextAnalysis.bm25PostingsBatch(corpus, base, batchId = 0L)
    val qs = Seq((1L, "rare3 rare7"), (2L, "the of"),
      (3L, "absentterm")).toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    // serve + stats from ONE core run (the deployed pairing)
    val (servedDf, statsDf) = TextAnalysis.bm25PrunedCore(
      spark, base, qs, k = 5, sliceM0 = 16)
    val pruned = rows(servedDf)
    val full = rows(TextAnalysis.bm25TopKFromPostings(
      spark, base, qs, k = 5))
    assert(full.nonEmpty && pruned == full,
      "prune-or-fallback must reproduce the full scan exactly")
    val st = statsDf.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(4), r.isNullAt(2)))).toMap
    assert(st(1L)._2,
      s"rare-term query must be slice-answered with a proven bound: $st")
    assert(st(1L)._1 == 20L, "candidates = the 20 rare-term docs")
    assert(!st(2L)._2,
      s"saturated query must take the full-scan route: $st")
    // every matched term of q2 has df (200) > sliceM (16): the cost
    // router sends it straight to the full scan — no prune attempt,
    // so theta is null and candidates are 0
    assert(st(2L)._1 == 0L && st(2L)._3,
      s"saturated query must be ROUTED (null theta, 0 cands): $st")
    assert(st(3L)._1 == 0L && !st(3L)._2,
      "absent-term query: zero candidates, fallback verdict")
    // the llm_bm25_pruned bench regime on REAL testdata: rare salt
    // tokens (df ~ N/499 << sliceM) — the slice arm must actually
    // engage there, or the oracle row only ever proves the fallback
    val base2 = graft.Scratch.root + "/bm25prune_spec2"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(base2))
    TextAnalysis.bm25PostingsBatch(
      docs.filter(col("doc_id") % 100 =!= 0)
        .withColumn("text", concat(col("text"), lit(" rk"),
          pmod(col("doc_id"), lit(499L)))),
      base2, batchId = 0L)
    val qRare = (0 until 12).map(q => (1000L + q,
      (0 until 8).map(j => s"rk${(q * 53 + j * 17) % 499}")
        .mkString(" "))).toDF("query_id", "text")
    val st2 = TextAnalysis.bm25PrunedCore(spark, base2, qRare, k = 5)._2
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(st2.size == 12 && st2.values.forall(identity),
      s"every rare-token query must be slice-answered on the " +
        s"salted testdata corpus: $st2")
    graft.cache.Pins.release(spark)
  }

  test("bm25 pruned-serve routing verdicts on the exact batch df") {
    import spark.implicits._
    val base = graft.Scratch.root + "/bm25route_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpus = (0 until 200).map { i =>
      (i.toLong, s"the of and rare${i % 20} the of")
    }.toDF("doc_id", "text")
    // two doc-disjoint batches: routing must see the df summed over both
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 === 0), base, batchId = 0L)
    TextAnalysis.bm25PostingsBatch(
      corpus.filter(col("doc_id") % 2 =!= 0), base, batchId = 1L)
    val qs = Seq((1L, "rare3 rare7"), (2L, "the of"),
      (3L, "absentterm")).toDF("query_id", "text")
    val (served, stats) = TextAnalysis.bm25PrunedCore(
      spark, base, qs, k = 5, sliceM0 = 16)
    val verdicts = stats.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getBoolean(4))).sortBy(_._1).toSeq
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val got = tuples(served)
    graft.cache.Pins.release(spark)
    // rare3/rare7 have df 10 <= sliceM: pruned; the saturated query
    // (df 200 > sliceM) and the absent one route to the full scan
    assert(verdicts == Seq((1L, 20L, true), (2L, 0L, false),
      (3L, 0L, false)), s"$verdicts")
    assert(got == tuples(TextAnalysis.bm25TopKFromPostings(spark, base,
      qs, k = 5)), "routed serve must equal the full scan")
  }

  test("bm25 impact pruning, WEIGHTED: pruned == weighted full scan " +
       "bit-for-bit; qtf actually bites in the slice arm; saturated " +
       "bag-queries route to the full scan") {
    import spark.implicits._
    val base = graft.Scratch.root + "/bm25prunew_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // same planted shape as the unweighted spec: uniform filler
    // (df = 200 > sliceM -> full-scan route) + one rare term per
    // 20-doc group (df = 10 <= sliceM -> the slice arm engages)
    val corpus = (0 until 200).map { i =>
      (i.toLong, s"the of and rare${i % 20} the of")
    }.toDF("doc_id", "text")
    TextAnalysis.bm25PostingsBatch(corpus, base, batchId = 0L)
    // q1 repeats rare3 (qtf = 2) — the weighted slice arm must scale
    // that term's contribution AND its tail by the same qtf; q2 is
    // the saturated bag query; q3 repeats an absent term
    val qs = Seq((1L, "rare3 rare3 rare7"), (2L, "the the of"),
      (3L, "absentterm absentterm")).toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val (servedDf, statsDf) =
      TextAnalysis.bm25PrunedCore(
        spark, base, qs, k = 5, sliceM0 = 16, weighted = true)
    val pruned = rows(servedDf)
    val full = rows(TextAnalysis.bm25TopKWeightedFromPostings(
      spark, base, qs, k = 5))
    assert(full.nonEmpty && pruned == full,
      "weighted prune-or-fallback must reproduce the weighted full " +
        "scan exactly")
    val st = statsDf.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(4), r.isNullAt(2)))).toMap
    assert(st(1L)._2 && st(1L)._1 == 20L,
      s"rare-term bag query must be slice-answered: $st")
    assert(st(2L)._1 == 0L && !st(2L)._2 && st(2L)._3,
      s"saturated bag query must be ROUTED to the full scan: $st")
    assert(st(3L)._1 == 0L && !st(3L)._2,
      s"absent-term bag query: zero candidates, fallback: $st")
    // the qtf weighting must be LIVE in the slice-answered result:
    // q1's scores differ from the set-query serve's (rare3 counted
    // twice vs once)
    val setQ1 = rows(TextAnalysis.bm25TopKFromPostingsPruned(
      spark, base, qs.filter(col("query_id") === 1L), k = 5))
    val wQ1 = pruned.filter(_._1 == 1L)
    assert(setQ1.map(_._4) != wQ1.map(_._4),
      "qtf = 2 must change q1's scores vs the set-query serve")
    graft.cache.Pins.release(spark)
  }

  test("kmeansUpdate: one round from given centroids; quiet cells " +
       "keep their centroid exactly") {
    import spark.implicits._
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(100.0, 100.0))
    // batch touches cells 0 and 1 only; cell 2 stays silent
    val batch = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(-1.0f, 3.0f)),   // cell 0
      (3L, Seq(9.0f, 2.0f))                            // cell 1
    ).toDF("vec_id", "embedding")
    val upd = Similarity.kmeansUpdate(batch, cents)
    assert(upd.length == 3)
    assert(upd(0) == Seq(0.0, 2.0), s"${upd(0)}")
    assert(upd(1) == Seq(9.0, 2.0), s"${upd(1)}")
    assert(upd(2) == cents(2),
      s"a quiet cell must keep its centroid: ${upd(2)}")
  }

  test("leakageFreeSplit: no near-dup pair straddles a split " +
       "boundary; singletons split on their own id") {
    val pairs = Dedup.minHashPairs(docs, threshold = 0.35)
    val comps = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
    val sp = Sampling.leakageFreeSplit(docs, comps)
    // the content-hash split DOES leak on this corpus (the audit's
    // whole point) — the cluster split must not
    val crossed = pairs
      .join(sp.select(col("doc_id").as("id_a"),
        col("split").as("_sa")), Seq("id_a"))
      .join(sp.select(col("doc_id").as("id_b"),
        col("split").as("_sb")), Seq("id_b"))
      .filter(col("_sa") =!= col("_sb")).count()
    assert(crossed == 0L,
      s"$crossed near-dup pairs straddle the cluster split")
    // coverage: every doc gets exactly one split; singleton fallback
    assert(sp.count() == docs.count())
    val singleton = sp.join(comps.select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti").head()
    assert(singleton.getLong(0) == singleton.getLong(1),
      "a doc with no near-dup edges is its own component")
  }

  test("stratifiedSplitApprox: verdict in band on real data, targets " +
       "match the exact window path, no window in the plan") {
    val out = Sampling.stratifiedSplitApprox(docs, valFrac = 0.1,
      testFrac = 0.1, tolFrac = 0.05)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(4) == 1),
      s"approx hash cuts must track the exact floor targets on every " +
        s"source: ${rows.filter(_.getInt(4) != 1).mkString(", ")}")
    // the scale path's whole point: no per-source sort of the corpus
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"),
      s"approx path must not contain a rank window:\n${plan.take(1200)}")
    // targets == the exact path's per-source test/val sizes
    val exact = Sampling.stratifiedSplit(docs, valFrac = 0.1,
        testFrac = 0.1)
      .groupBy(col("source"), col("split")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val s = r.getString(0)
      assert(exact.getOrElse((s, "test"), 0L) == r.getLong(2),
        s"test_target mismatch for $s")
      assert(exact.getOrElse((s, "val"), 0L) == r.getLong(3),
        s"val_target mismatch for $s")
    }
  }

  test("jlTopKRerank: projected candidates + exact rerank recover " +
       "most of the true top-10") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val truth = Similarity.bruteTopK(emb, q, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.jlTopKRerank(emb, q, 10, outDim = 16,
        rerank = 100)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    // measured 0.66 on these near-isotropic embeddings (the hard
    // case: true neighbors are near-ties, see randProject spec) —
    // ~3.3x the 0.2 random-pool baseline; margin below that reading
    assert(recall >= 0.5, s"recall=$recall vs random-baseline 0.2")
    // exact duplicates of a query vector are unmissable: the clone
    // projects identically, so it is always a candidate and reranks
    // to cosine 1.0
    val clone = emb.limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"))
    val withClone = emb.select("vec_id", "embedding")
      .unionByName(clone)
    val q1 = emb.limit(1).select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"))
    val top = Similarity.jlTopKRerank(withClone, q1, 2, outDim = 8,
        rerank = 10)
      .orderBy(col("rank")).collect()
    assert(top.take(2).map(_.getDouble(3)).forall(_ == 1.0),
      s"query itself + its clone must lead: ${top.mkString(", ")}")
  }

  test("accentFold: decomposable accents strip, ascii and non-" +
       "decomposable chars pass through, precomposed == decomposed") {
    import spark.implicits._
    val planted = Seq(
      (1L, "café Zürich ÀÉ"),   // precomposed
      (2L, "café"),                            // decomposed e+mark
      (3L, "plain ascii stays"),
      (4L, "ø and ß survive")              // ø ß: no marks
    ).toDF("doc_id", "text")
    val out = planted
      .select(col("doc_id"), TextAnalysis.accentFold(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "cafe Zurich AE", s"${out(1L)}")
    assert(out(2L) == "cafe",
      "NFD input folds the same as precomposed")
    assert(out(3L) == "plain ascii stays")
    assert(out(4L) == "ø and ß survive",
      "accent folding is not transliteration")
  }

  test("epochPlan: upsampled source gets epochs > 1, oversupplied " +
       "source < 1; untargeted source dropped") {
    import spark.implicits._
    val planted = Seq(
      (1L, ("w " * 10).trim, "small"),    // 10 tokens available
      (2L, ("w " * 100).trim, "big"),     // 100 tokens available
      (3L, "x y z", "other")
    ).toDF("doc_id", "text", "source")
    val out = Mixing.epochPlan(planted,
        weights = Map("small" -> 0.5, "big" -> 0.5),
        targetTokens = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // small: target 50 of 10 avail -> 5 epochs, 5 repeats
    assert(out("small") == ((10L, 50L, 5.0, 5L)), s"${out("small")}")
    // big: target 50 of 100 -> half an epoch, 1 pass
    assert(out("big") == ((100L, 50L, 0.5, 1L)), s"${out("big")}")
    assert(!out.contains("other"))
  }

  test("htmlStrip: tags cut, entities decode in amp-last order, " +
       "whitespace collapses, plain text untouched") {
    import spark.implicits._
    val planted = Seq(
      (1L, "<html><body  class='x'><p>hello   world</p></body></html>"),
      (2L, "tom &amp; jerry say &quot;hi&quot;"),
      // &amp;lt; must decode to the LITERAL '&lt;', not to '<'
      (3L, "escaped: &amp;lt;tag&amp;gt;"),
      (4L, "plain text with no markup at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.htmlStrip(planted, minTags = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getAs[Boolean]("is_markup")))
      .toMap
    assert(out(1L) == ((6L, "hello world", true)), s"${out(1L)}")
    assert(out(2L) == ((0L, "tom & jerry say \"hi\"", false)),
      s"${out(2L)}")
    assert(out(3L)._2 == "escaped: &lt;tag&gt;",
      s"double-encoded entities must single-decode: ${out(3L)}")
    assert(out(4L) == ((0L, "plain text with no markup at all",
      false)), s"${out(4L)}")
  }

  test("corpusDiff: added/removed/changed/unchanged classified per " +
       "source; chars from the surviving side") {
    import spark.implicits._
    val old = Seq((1L, "alpha text", "A"), (2L, "beta", "A"),
      (3L, "gamma", "B")).toDF("doc_id", "text", "source")
    val v2 = Seq((1L, "alpha text", "A"),      // unchanged
      (2L, "beta rewritten", "A"),             // changed
      (4L, "delta new", "B"))                  // added; 3 removed
      .toDF("doc_id", "text", "source")
    val out = Dedup.corpusDiff(old, v2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out(("A", "unchanged")) == ((1L, 10L)), s"$out")
    assert(out(("A", "changed")) == ((1L, 14L)),
      s"changed chars must come from the NEW side: $out")
    assert(out(("B", "added")) == ((1L, 9L)), s"$out")
    assert(out(("B", "removed")) == ((1L, 5L)),
      s"removed chars come from the old side: $out")
    assert(out.size == 4)
  }

  test("safetyScan: each signal fires alone; dotted quad counted as " +
       "IP, never re-counted as phone") {
    import spark.implicits._
    val clean = (1 to 25).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (1L, s"$clean reach me at jo.doe+x@mail.example.org ok", "s"),
      (2L, s"$clean node at 192.168.10.44 responded", "s"),
      (3L, s"$clean call +1 (555) 010-7788 now", "s"),
      (4L, s"$clean aws key AKIA9uT3xZ8qLw4mN6pQr5sV2dY7 here", "s"),
      (5L, s"$clean visit casino777 tonight", "s"),
      (6L, s"$clean nothing to see", "s")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.safetyScan(planted,
        blockTerms = Seq("casino777"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
         r.getBoolean(6), r.getBoolean(7))).toMap
    assert(out(1L) == ((1L, 0L, 0L, 0L, false, true)), s"${out(1L)}")
    assert(out(2L) == ((0L, 1L, 0L, 0L, false, true)),
      s"ip must not leak into the phone count: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 1L, 0L, false, true)), s"${out(3L)}")
    assert(out(4L)._5 && out(4L)._6,
      s"high-entropy key token must flag: ${out(4L)}")
    assert(out(5L) == ((0L, 0L, 0L, 1L, false, true)), s"${out(5L)}")
    assert(out(6L) == ((0L, 0L, 0L, 0L, false, false)), s"${out(6L)}")
  }

  test("mixtureSample: under-represented source keeps rate 1, " +
       "dominant source thins toward the target share") {
    import spark.implicits._
    val planted = ((1L to 9L).map(i => (i, "A")) :+ ((10L, "B")))
      .toDF("doc_id", "source")
    // c_A = 0.9, c_B = 0.1; equal targets -> r_A = 0.5/0.9,
    // r_B = 0.5/0.1 = max -> rate_B = 1, rate_A = 1/9
    val out = Sampling.mixtureSample(planted,
      Map("A" -> 0.5, "B" -> 0.5))
    val rates = out.select("source", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates.get("B").contains(1.0), s"$rates")
    assert(rates.get("A").forall(_ == 0.111111) || !rates.contains("A"),
      s"$rates")
    // B's single doc always survives (rate 1); determinism
    assert(out.filter(col("source") === "B").count() == 1)
    assert(out.collect().toSeq ==
      Sampling.mixtureSample(planted,
        Map("A" -> 0.5, "B" -> 0.5)).collect().toSeq)
    // a source absent from the target mix is dropped entirely
    val only = Sampling.mixtureSample(planted, Map("B" -> 1.0))
    assert(only.select("source").distinct().collect()
      .map(_.getString(0)).toSet == Set("B"))
  }

  test("qualityEnsemble: majority rule — gates disagree per doc, " +
       "keep iff >= 2 pass") {
    import spark.implicits._
    val good = (1 to 40).map(i => s"word$i").mkString(" ") + "."
    // fails quality (too short) AND repetition (one trigram repeated)
    val shortRep = "a b c a b c a b c a b c"
    // passes quality + gopher, fails repetition: 30 distinct tokens
    // then the same trigram run repeated to push rep_ratio over 0.2
    val repHeavy = (1 to 30).map(i => s"u$i").mkString(" ") +
      (" x y z" * 12)
    val planted = Seq((1L, good, "s"), (2L, shortRep, "s"),
      (3L, repHeavy, "s")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.qualityEnsemble(planted)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
         r.getLong(5), r.getBoolean(6))).toMap
    assert(out(1L) == ((true, true, true, 3L, true)), s"${out(1L)}")
    assert(!out(2L)._2 && !out(2L)._3,
      s"short repetitive doc fails quality+rep: ${out(2L)}")
    assert(!out(2L)._5, s"${out(2L)}")
    assert(out(3L)._2 && !out(3L)._3,
      s"rep-heavy doc passes quality, fails repetition: ${out(3L)}")
    assert(out(3L)._4 >= 2 == out(3L)._5, s"${out(3L)}")
  }

  test("domainReweight: easiest source anchors the floor, hard " +
       "source upweighted, weights sum to 1") {
    import spark.implicits._
    val docsF = Seq((1L, "easy"), (2L, "easy"), (3L, "hard"),
      (4L, "hard")).toDF("doc_id", "source")
    // mean loss: easy = 1.0, hard = 2.5 -> excess 0 / 1.5,
    // raw 1.0 / 2.5 -> weights 1/3.5 and 2.5/3.5
    val scored = Seq((1L, -0.5), (2L, -1.5), (3L, -2.0), (4L, -3.0))
      .toDF("doc_id", "avg_logprob")
    val out = TextAnalysis.domainReweight(docsF, scored)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out("easy") == ((2L, 1.0, 0.0, 0.285714)), s"${out("easy")}")
    assert(out("hard") == ((2L, 2.5, 1.5, 0.714286)), s"${out("hard")}")
    assert(math.abs(out.values.map(_._4).sum - 1.0) < 1e-5)
    // invariance: shifting every score by a constant leaves the
    // weights unchanged (only excess over the floor matters)
    val shifted = scored.withColumn("avg_logprob",
      col("avg_logprob") - lit(7.0))
    val out2 = TextAnalysis.domainReweight(docsF, shifted)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(out2("easy") == out("easy")._4 &&
      out2("hard") == out("hard")._4, s"$out2")
  }

  test("protoPrune: hardest-per-cell kept, easy near-prototype " +
       "dropped, singleton cell survives") {
    import spark.implicits._
    // two prototypes at x=0 and x=10; cell 0 has 4 points at
    // increasing distance, cell 1 has a single point
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    val pts = Seq(
      (1L, Seq(0.1f, 0.0f)),   // easiest in cell 0 -> dropped
      (2L, Seq(0.2f, 0.0f)),   // dropped (keepFrac 0.5 of 4 = 2 kept)
      (3L, Seq(1.0f, 0.0f)),   // kept
      (4L, Seq(2.0f, 0.0f)),   // hardest -> rank 1, kept
      (5L, Seq(10.0f, 0.5f))   // singleton cell: ceil(1*0.5)=1 kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.protoPrune(pts, cents, keepFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4),
         r.getAs[Boolean]("kept"))).toMap
    assert(out(4L) == ((0L, 1L, 4L, true)), s"${out(4L)}")
    assert(out(3L) == ((0L, 2L, 4L, true)), s"${out(3L)}")
    assert(!out(1L)._4 && !out(2L)._4,
      s"near-prototype points must be pruned: ${out(1L)} ${out(2L)}")
    assert(out(5L) == ((1L, 1L, 1L, true)),
      s"non-empty cell must keep >= 1: ${out(5L)}")
    // tie on rounded dist breaks to the LOWER id
    val tied = Seq((7L, Seq(1.0f, 0.0f)), (6L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ranks = Similarity.protoPrune(tied, Seq(Seq(0.0, 0.0)),
        keepFrac = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ranks(6L) == 1L && ranks(7L) == 2L, s"$ranks")
  }

  test("protoPruneApprox: verdict in band on real data, no rank " +
       "window in the plan") {
    val cents = Similarity.kmeansCentroids(emb, nCells = 16, iters = 2)
    val out = Similarity.protoPruneApprox(emb, cents, keepFrac = 0.5)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) == 1),
      s"approx cut must track the exact keep target on every cell: " +
        rows.filter(_.getInt(3) != 1).mkString(", "))
    // the scale path's whole point: no per-cell sort of the corpus
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"),
      s"approx path must not contain a rank window:\n${plan.take(1200)}")
    // agreement with the exact path's per-cell keep counts
    val exact = Similarity.protoPrune(emb, cents, keepFrac = 0.5)
      .filter(col("kept")).groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val targets = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact == targets,
      "exact window path keeps exactly ceil(n_cell * f) per cell")
  }

  test("c4Filter: every line rule and page signal fires on its " +
       "planted line; clean doc passes") {
    import spark.implicits._
    val planted = Seq(
      // clean 2-line page: both lines kept, doc kept
      (1L, "this sentence ends with a period.\n" +
           "does this question have enough words?"),
      // short line + unpunctuated line: both dropped, no kept line
      (2L, "too short.\nthis line has no terminal punctuation"),
      // javascript line dropped even though well-formed; other kept
      (3L, "please enable JavaScript to continue here.\n" +
           "a perfectly fine sentence stays behind."),
      // lorem ipsum: line itself is well-formed (kept) but the page
      // signal kills the doc
      (4L, "lorem ipsum dolor sit amet.\nanother good line is here."),
      // curly brace code page
      (5L, "function f() { return 1; } end of sample.")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(planted, minWordsPerLine = 3,
        minKeptLines = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(5), r.getBoolean(6),
         r.getBoolean(7))).toMap
    assert(out(1L) == ((2L, 2L, false, false, true)), s"${out(1L)}")
    // "too short." ends with '.' but has 2 words -> word rule alone
    assert(out(2L) == ((2L, 0L, false, false, false)), s"${out(2L)}")
    // javascript match is case-insensitive; 1 of 2 lines survives
    assert(out(3L) == ((2L, 1L, false, false, true)), s"${out(3L)}")
    assert(out(4L) == ((2L, 2L, false, true, false)),
      s"lorem page: lines kept but doc killed: ${out(4L)}")
    assert(out(5L) == ((1L, 1L, true, false, false)), s"${out(5L)}")
    // clean_chars of doc 1 = full text length (both lines kept)
    val cc = TextAnalysis.c4Filter(planted).filter(col("doc_id") === 1)
      .select("clean_chars").head.getLong(0)
    assert(cc == planted.filter(col("doc_id") === 1)
      .select(length(col("text"))).head.getInt(0).toLong)
  }

  test("rrfFuse: fusion math, one-sided candidates, tie to smaller id") {
    import spark.implicits._
    // q1: doc 10 in both lists, 20 lexical-only, 30 dense-only.
    // q2: 9 lexical rank-1 vs 7 dense rank-1 — equal rrf, id breaks.
    val lex = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 9L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val den = Seq((1L, 10L, 2L), (1L, 30L, 1L), (2L, 7L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(lex, den, k = 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), Option(r.get(4)),
          Option(r.get(5))))).toMap
    // doc 10: 1/61 + 1/62; doc 30: 1/61; doc 20: 1/62 (rounded 6)
    assert(out((1L, 1L)) == ((10L, 0.032522, Some(1L), Some(2L))))
    assert(out((1L, 2L)) == ((30L, 0.016393, None, Some(1L))))
    assert(out((1L, 3L)) == ((20L, 0.016129, Some(2L), None)))
    // equal scores: smaller doc id first
    assert(out((2L, 1L))._1 == 7L && out((2L, 2L))._1 == 9L)
    assert(out((2L, 1L))._2 == out((2L, 2L))._2)
  }

  test("count-min sketch: one-sided error, fixed state, row mass " +
       "conservation") {
    import spark.implicits._
    val items = (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).toDF("token")
    // wide sketch: collision-free at this vocab -> estimates exact
    val wide = HeavyHitters.cmsCompare(items, topN = 4, depth = 4,
      width = 64).collect()
    assert(wide.length == 4)
    wide.foreach { r =>
      assert(r.getLong(3) == 0L, s"width-64 overestimate on $r")
    }
    // state bound: depth x width cells at most, regardless of stream
    val sk = HeavyHitters.cmsSketch(items, depth = 4, width = 8)
    assert(sk.count() <= 32)
    // every sketch row carries the full stream mass (18 instances)
    val mass = sk.groupBy(col("row")).agg(sum(col("cnt")).as("m"))
      .collect().map(_.getLong(1))
    assert(mass.length == 4 && mass.forall(_ == 18L))
    // narrow sketch: collisions guaranteed, error stays one-sided
    val narrow = HeavyHitters.cmsCompare(items, topN = 4, depth = 2,
      width = 2).collect()
    narrow.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS must never underestimate: $r")
    }
    // unseen probe: estimate is its cells' collision mass, >= 0
    val unseen = HeavyHitters.cmsLookup(sk,
      Seq("zzz").toDF("token")).collect()
    assert(unseen.length == 1 && unseen.head.getLong(1) >= 0L)
  }

  test("dedupLineage: exact beats near_dup, direct representatives") {
    import spark.implicits._
    val base = (0 until 100).map(i => s"w$i").mkString(" ")
    val near = base.replace("w50", "changed")
    val other = (0 until 100).map(i => s"z$i").mkString(" ")
    val planted = Seq((1L, base), (2L, base), (3L, near), (4L, other))
      .toDF("doc_id", "text")
    val comps = Dedup.connectedComponents(
      Dedup.minHashPairs(planted, threshold = 0.35)
        .select(col("id_a"), col("id_b")))
    val out = Dedup.dedupLineage(planted, comps).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) == (("kept", 1L)))
    // doc 2 is byte-identical to 1: claimed by the EXACT stage even
    // though it also sits in the near-dup component
    assert(out(2L) == (("exact", 1L)))
    assert(out(3L) == (("near_dup", 1L)))
    assert(out(4L) == (("kept", 4L)))
  }

  test("prefixGroups: shared first-k tokens group, tails ignored") {
    import spark.implicits._
    val head = (0 until 8).map(i => s"p$i").mkString(" ")
    val planted = Seq(
      (1L, s"$head tail one extra words here"),
      (2L, s"$head completely different continuation text"),
      (3L, "another doc entirely unrelated to the first pair"))
      .toDF("doc_id", "text")
    val out = Dedup.prefixGroups(planted, nTok = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
    // shorter prefix window separates nothing extra; a doc shorter
    // than the window groups by its full token run
    val short = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val so = Dedup.prefixGroups(short, nTok = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(so.toSeq == Seq((1L, 2L)))
  }

  test("jaccardPairsPrefix == jaccardPairsBrute (exact join, " +
       "pruned plan) on real data and on a boundary fixture") {
    import spark.implicits._
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = asSet(Dedup.jaccardPairsBrute(docs, n = 3,
      threshold = 0.2))
    val pref = asSet(Dedup.jaccardPairsPrefix(docs, n = 3,
      threshold = 0.2))
    assert(brute.nonEmpty && pref == brute,
      s"prefix path must reproduce brute exactly: " +
        s"missing=${(brute -- pref).take(3)} extra=${(pref -- brute).take(3)}")
    // boundary fixture: t*|sz| lands on an exact integer (the ceil
    // epsilon case) — a pair at exactly the threshold must survive
    val a = "x1 x2 x3 x4 x5 x6 x7"          // 5 3-shingles
    val b = "x3 x4 x5 x6 x7 y1 y2"          // shares 3 of its 5
    val planted = Seq((1L, a), (2L, b), (3L, "z z z")).toDF("doc_id", "text")
    val bs = asSet(Dedup.jaccardPairsBrute(planted, 3, 0.42857))
    val ps = asSet(Dedup.jaccardPairsPrefix(planted, 3, 0.42857))
    assert(ps == bs && bs.exists(t => t._1 == 1L && t._2 == 2L))
  }

  test("jaccardPairsPrefixSlabbed == brute across slab counts; " +
       "cross-slab duplicates deduped; empty corpus -> empty result") {
    import spark.implicits._
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = graft.Scratch.root + "/jslab_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val brute = asSet(Dedup.jaccardPairsBrute(docs, n = 3,
      threshold = 0.2))
    // slabs=3 forces multi-slab candidate generation: pairs whose
    // prefixes span slabs verify twice and must dedup to one row
    val sl = asSet(Dedup.jaccardPairsPrefixSlabbed(docs, n = 3,
      threshold = 0.2, slabs = 3, scratchDir = s"$base/docs"))
    assert(brute.nonEmpty && sl == brute,
      s"slabbed path must reproduce brute exactly: " +
        s"missing=${(brute -- sl).take(3)} extra=${(sl -- brute).take(3)}")
    // slabs=1 degenerates to the single-pass candidate set
    val one = asSet(Dedup.jaccardPairsPrefixSlabbed(docs, n = 3,
      threshold = 0.2, slabs = 1, scratchDir = s"$base/one"))
    assert(one == brute)
    // the ceil-epsilon boundary fixture survives slab mode too
    val a = "x1 x2 x3 x4 x5 x6 x7"
    val b = "x3 x4 x5 x6 x7 y1 y2"
    val planted = Seq((1L, a), (2L, b), (3L, "z z z"))
      .toDF("doc_id", "text")
    assert(asSet(Dedup.jaccardPairsPrefixSlabbed(planted, 3, 0.42857,
        slabs = 2, scratchDir = s"$base/planted")) ==
      asSet(Dedup.jaccardPairsBrute(planted, 3, 0.42857)))
    // empty corpus: empty frame with the contract schema, no writes
    val empty = Dedup.jaccardPairsPrefixSlabbed(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 3, 0.5,
      scratchDir = s"$base/empty")
    assert(empty.columns.toSeq == Seq("id_a", "id_b", "jaccard") &&
      empty.isEmpty)
  }

  test("annRecall: hit counting, zero-hit queries present, k scaling") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L),
      (2L, 97L), (2L, 98L), (2L, 99L))
      .toDF("query_id", "vec_id")
    val out = Similarity.annRecall(exact, approx, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((2L, 0.666667)))
    // a query the index completely misses still reports (recall 0)
    assert(out(2L) == ((0L, 0.0)))
  }

  test("dedupAgreement: both / lexical_only / embedding_only") {
    import spark.implicits._
    val lex = Seq((1L, 2L, 0.9), (1L, 3L, 0.8))
      .toDF("id_a", "id_b", "est_jaccard")
    val emb = Seq((1L, 2L, 0.95), (4L, 5L, 0.5))
      .toDF("id_a", "id_b", "cosine")
    val out = Dedup.dedupAgreement(lex, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out((1L, 2L)) == (("both", Some(0.9), Some(0.95))))
    assert(out((1L, 3L)) == (("lexical_only", Some(0.8), None)))
    assert(out((4L, 5L)) == (("embedding_only", None, Some(0.5))))
  }

  test("dedupAgreement lens swap: LSH embedding pairs are a subset of " +
       "the brute pairs with identical cosines, recall >= 0.9, and " +
       "the lexical side of the agreement is lens-invariant") {
    // the suite's llm_dedup_agreement feeds the LSH scale path; this
    // spec keeps the brute-fed form alive as the equivalence witness
    // (the declared O(N^2) baseline never rides a timed run)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = Dedup.embeddingPairsBrute(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val lsh = Similarity.lshCosinePairs(emb, threshold = 0.4,
        nTables = 16, planesPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(lsh.nonEmpty && brute.nonEmpty)
    lsh.foreach { case (k, c) =>
      assert(brute.get(k).contains(c),
        s"LSH pair $k cosine $c must appear in the brute set " +
          s"with the same exact-filtered cosine (${brute.get(k)})")
    }
    assert(lsh.size >= math.ceil(brute.size * 0.9).toInt,
      s"LSH recall ${lsh.size}/${brute.size} below the 0.9 contract")
    // the agreement op itself is pair-frame-agnostic: the lexical
    // rows it emits are identical whichever embedding lens feeds it
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lex = Dedup.minHashPairs(docs, threshold = 0.35)
    def lexSide(embPairs: org.apache.spark.sql.DataFrame) =
      Dedup.dedupAgreement(lex, embPairs)
        .filter(col("est_jaccard").isNotNull)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getDouble(3)).toMap
    assert(lexSide(Dedup.embeddingPairsBrute(emb, 0.4)) ==
      lexSide(Similarity.lshCosinePairs(emb, 0.4, 16, 4)))
    graft.cache.Pins.release(spark)
  }

  test("rankEval: hand-computed MRR/P@k/recall/nDCG; missed query " +
       "reports zeros; unjudged query is not scored") {
    import spark.implicits._
    val ranked = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 7L, 1L), (3L, 8L, 1L)).toDF("query_id", "doc_id", "rank")
    val rels = Seq((1L, 11L), (1L, 99L), (2L, 5L))
      .toDF("query_id", "doc_id")
    val out = Similarity.rankEval(ranked, rels, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    // q1: one hit at rank 2 of rels {11, 99}
    // dcg = 1/log2(3); idcg(min(2,3)) = 1 + 1/log2(3)
    val dcg = 1.0 / (math.log(3.0) / math.log(2.0))
    val ndcg = BigDecimal(dcg / (1.0 + dcg))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((2L, 1L, 0.5, 0.333333, 0.5, ndcg)), s"${out(1L)}")
    // q2: judged but ranker missed -> all zeros
    assert(out(2L) == ((1L, 0L, 0.0, 0.0, 0.0, 0.0)), s"${out(2L)}")
    // q3: retrieved but unjudged -> not scored (TREC convention)
    assert(!out.contains(3L), s"${out.keySet}")
  }

  test("cohenKappa: hand-computed po/pe/kappa, null exclusion, " +
       "degenerate pe=1 convention") {
    import spark.implicits._
    val df = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("y", "y"),
      (null, "x"), ("x", null)).toDF("a", "b")
    val r = TextAnalysis.cohenKappa(df, "a", "b").head()
    // judged rows: 4; agree 3 -> po 0.75; marginals A{x:2,y:2}
    // B{x:1,y:3} -> pe = (2*1 + 2*3)/16 = 0.5 -> kappa 0.5
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 0.75 && r.getDouble(2) == 0.5 &&
      r.getDouble(3) == 0.5, s"$r")
    // both columns constant: agreement carries no information
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val rc = TextAnalysis.cohenKappa(const, "a", "b").head()
    assert(rc.getDouble(2) == 1.0 && rc.getDouble(3) == 0.0, s"$rc")
    // disjoint label sets: pe = 0 (inner marginal join empty)
    val disj = Seq(("x", "p"), ("y", "q")).toDF("a", "b")
    val rd = TextAnalysis.cohenKappa(disj, "a", "b").head()
    assert(rd.getDouble(1) == 0.0 && rd.getDouble(2) == 0.0 &&
      rd.getDouble(3) == 0.0, s"$rd")
  }

  test("compressionRatio: redundancy ordering on planted corpora, " +
       "empty-doc convention, run-to-run determinism") {
    import spark.implicits._
    val repetitive = Seq.fill(400)("lorem ipsum").mkString(" ")
    val diverse = (0 until 400)
      .map(i => s"w${i * 7919 % 100003}x${i}").mkString(" ")
    val df = Seq((1L, repetitive), (2L, diverse), (3L, ""))
      .toDF("doc_id", "text").repartition(3)
    val out = TextAnalysis.compressionRatio(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 == repetitive.getBytes("UTF-8").length.toLong)
    // template spam compresses an order of magnitude below diverse text
    assert(out(1L)._3 < 0.05, s"repetitive ratio ${out(1L)._3}")
    assert(out(2L)._3 > 3 * out(1L)._3,
      s"ordering violated: ${out(1L)._3} vs ${out(2L)._3}")
    assert(out(2L)._3 < 1.0, "real text always compresses some")
    // empty doc: nothing to judge -> neutral 1.0
    assert(out(3L) == ((0L, 0L, 1.0)))
    // deterministic across runs (fixed JDK zlib level)
    val again = TextAnalysis.compressionRatio(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(again == out)
  }

  test("quantileGate: top-mass keep per group, singleton survives") {
    import spark.implicits._
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 5L)).toDF("doc_id", "source", "score")
    val out = Sampling.quantileGate(df, "score", keepFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((0.333333, false)))
    assert(out(2L) == ((0.666667, true)))
    assert(out(3L) == ((1.0, true)))
    // rare source: its single doc is its own top mass — kept
    assert(out(4L) == ((1.0, true)))
  }

  test("quantileGateApprox: verdict in band on real data, targets " +
       "match the exact cume_dist path, no window in the plan") {
    val out = Sampling.quantileGateApprox(docs, "n_chars",
      keepFrac = 0.5, tolFrac = 0.1)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) == 1),
      s"approx score cut must track the exact top-mass keep count on " +
        s"every source: ${rows.filter(_.getInt(3) != 1).mkString(", ")}")
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"),
      s"approx path must not contain a cume_dist window:\n" +
        plan.take(1200))
    // keep_target == the exact gate's per-source keep count
    val exact = Sampling.quantileGate(docs, "n_chars", keepFrac = 0.5)
      .filter(col("keep")).groupBy(col("source"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(exact.getOrElse(r.getString(0), 0L) == r.getLong(2),
        s"keep_target mismatch for ${r.getString(0)}")
    }
  }

  test("viterbiPieces: coverage, probability preference, tie rules") {
    val lp = Map("a" -> -1.0, "b" -> -1.0, "c" -> -1.0,
      "ab" -> -0.5, "bc" -> -3.0)
    // concatenation always reconstructs the word
    val seg = TextAnalysis.viterbiPieces("abc", lp, 4)
    assert(seg.mkString == "abc")
    // "ab"+"c" (-1.5) beats "a"+"bc" (-4.0) and "a"+"b"+"c" (-3.0)
    assert(seg == Seq("ab", "c"))
    // maxLen respected: with maxLen=1 only singles are available
    assert(TextAnalysis.viterbiPieces("abc", lp, 1) ==
      Seq("a", "b", "c"))
    // tie on total logp -> fewer pieces wins
    val tie = Map("a" -> -1.0, "b" -> -1.0, "ab" -> -2.0)
    assert(TextAnalysis.viterbiPieces("ab", tie, 4) == Seq("ab"))
    // tie on logp AND piece count -> lexicographically smaller path
    val tie2 = Map("x" -> -1.0, "yz" -> -1.0, "xy" -> -1.0, "z" -> -1.0)
    assert(TextAnalysis.viterbiPieces("xyz", tie2, 4) ==
      Seq("x", "yz"))
  }

  test("unigramTrain/Encode: whole-word pieces win on a repetitive " +
       "corpus; fertility reflects it") {
    import spark.implicits._
    val planted = Seq.tabulate(20)(i =>
        (i.toLong, "wxyz wxyz wxyz qq")).toDF("doc_id", "text")
    val model = TextAnalysis.unigramTrain(planted, vocabSize = 12,
        maxPieceLen = 4, iters = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // every corpus char survives as a single-char piece
    Seq("w", "x", "y", "z", "q").foreach(c => assert(model.contains(c)))
    // the dominant whole word is in the vocab and carries the mass
    assert(model.contains("wxyz") && model("wxyz")._1 == 60L)
    assert(model("wxyz")._2 > model("w")._2)
    val enc = TextAnalysis.unigramEncode(planted, vocabSize = 12,
        maxPieceLen = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // 4 words/doc: wxyz x3 (1 piece each) + qq (1 piece) = 4 pieces
    enc.foreach { case (_, nt, npc, fert) =>
      assert(nt == 4L && npc == 4L && fert == 1.0)
    }
    // pruning drops the unused multi-char pieces (wx, xy, ... never
    // appear in a best segmentation once wxyz wins) but never a
    // single char, and the survivors' occurrence counts agree
    val pruned = TextAnalysis.unigramTrain(planted, vocabSize = 12,
        maxPieceLen = 4, iters = 2, prune = true)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(pruned.size < model.size, s"${pruned.keySet}")
    Seq("w", "x", "y", "z", "q").foreach(c => assert(pruned.contains(c)))
    assert(pruned.contains("wxyz") && pruned("wxyz")._1 == 60L)
    assert(pruned.keys.filter(_.length > 1).toSet
      .subsetOf(Set("wxyz", "qq")), s"${pruned.keySet}")
    graft.llm.Similarity.clearTrainedCache()
  }

  test("hashEmbed: unit vectors, content-determined, feeds ANN " +
       "end-to-end (exact dup is its own nearest neighbor)") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"w${i % 17}").mkString(" ")
    val other = (0 until 60).map(i => s"z${(i * 7) % 13}").mkString(" ")
    val planted = Seq((1L, base), (2L, base), (3L, other))
      .toDF("doc_id", "text")
    val emb = TextAnalysis.hashEmbed(planted, dim = 32)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // L2-normalized (non-degenerate docs) and content-determined
    Seq(1L, 2L, 3L).foreach { id =>
      val n = math.sqrt(vecs(id).map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"doc $id norm $n")
    }
    assert(vecs(1L) == vecs(2L), "same text -> same vector")
    assert(vecs(1L) != vecs(3L), "different text -> different vector")
    // the vectors are drop-in for the similarity operators
    val top = Similarity.bruteTopK(
        emb.withColumnRenamed("doc_id", "vec_id"),
        emb.filter(col("doc_id") === 1)
          .select(col("doc_id").as("query_id"),
            col("embedding").as("query_vec")),
        k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    // rank 1 = doc 1 itself (cosine 1), rank 2 = its exact dup
    assert(top == List((1L, 1L), (2L, 2L)), s"$top")
  }

  test("hashTopK: exact dup is rank 1 at cosine 1.0; agrees with the " +
       "dense brute path on full-overlap data") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"w${i % 17}").mkString(" ")
    val near = base.replace("w5", "w5 w5")      // mild tf shift
    val other = (0 until 60).map(i => s"z${(i * 7) % 13}").mkString(" ")
    val corpus = Seq((10L, base), (11L, near), (12L, other))
      .toDF("doc_id", "text")
    val queries = Seq((1L, base)).toDF("query_id", "text")
    val out = TextAnalysis.hashTopK(corpus, queries, k = 3, dim = 32)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.head == ((1L, 10L, 1.0)), s"${out.toList}")
    assert(out(1)._2 == 11L && out(1)._3 > 0.9, s"${out.toList}")
    // dense-brute agreement: same ranking over the same vectors
    val emb = TextAnalysis.hashEmbed(corpus, dim = 32)
      .withColumnRenamed("doc_id", "vec_id")
    val qemb = TextAnalysis.hashEmbed(queries
        .withColumnRenamed("query_id", "doc_id"), dim = 32)
      .select(col("doc_id").as("query_id"),
        col("embedding").as("query_vec"))
    val brute = Similarity.bruteTopK(emb, qemb, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(brute.toSeq == out.map(t => (t._1, t._2)).toSeq)
  }

  test("spanMaskPlan: spans fit whole, never overlap, density " +
       "tracks spanLen/spacing") {
    import spark.implicits._
    val rows = Mixing.spanMaskPlan(docs, spacing = 20, spanLen = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(rows.nonEmpty)
    rows.foreach { case (n, spans, masked, dens, first) =>
      assert(masked == spans * 3 && masked <= n)
      first.foreach { r =>
        // the last span still fits whole inside the doc
        assert(r + (spans - 1) * 20 + 3 <= n, s"($n, $spans, $r)")
      }
      // finite-size bound: one whole span per started stride window
      assert(n == 0 || dens <= 3.0 / 20.0 + 3.0 / n + 1e-9,
        s"density $dens at n=$n")
    }
    // empty doc: zero everything, null first_start
    val e = Mixing.spanMaskPlan(Seq((1L, "")).toDF("doc_id", "text"))
      .head()
    assert(e.getLong(1) == 0L && e.getLong(2) == 0L && e.isNullAt(5))
  }

  test("Profile.profile: exact ndv, null handling, HLL verdict") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, Some("b")), (2, Some("b")),
      (3, None)).toDF("k", "v")
    val out = graft.functions.Profile.profile(df, Seq("k", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("k") == ((4L, 3L, true)))
    assert(out("v") == ((3L, 2L, true)))
  }

  test("nbLangId withConfidence: softmax posterior separates " +
       "unambiguous from ambiguous docs, bounded (0,1]") {
    import spark.implicits._
    val train = Seq(
      (1L, "aa", "alpha alpha beta"), (2L, "aa", "alpha beta beta"),
      (3L, "bb", "gamma gamma delta"), (4L, "bb", "gamma delta delta")
    ).toDF("doc_id", "lang", "text")
    val probe = Seq(
      (10L, "zz", "alpha alpha alpha beta"),  // pure aa vocabulary
      (11L, "zz", "alpha gamma")              // split evenly
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.nbLangId(probe, train, withConfidence = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(3)))).toMap
    assert(out(10L)._1 == "aa")
    assert(out.values.forall(v => v._2 > 0.0 && v._2 <= 1.0), s"$out")
    assert(out(10L)._2 > 0.9,
      s"unambiguous doc must be confident: ${out(10L)}")
    // the split doc scores identically under both labels (symmetric
    // counts) -> softmax of two equal scores = 0.5
    assert(math.abs(out(11L)._2 - 0.5) < 1e-6,
      s"ambiguous doc must sit at 0.5: ${out(11L)}")
  }

  test("Profile.privacyAudit: class sizes, sensitive diversity, " +
       "both gates on planted classes") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10L), ("a", 1L, 10L), ("a", 1L, 11L),
      ("a", 1L, 12L), ("a", 1L, 13L),                  // n=5, ndv=4
      ("b", 1L, 20L), ("b", 1L, 20L),                  // n=2, ndv=1
      ("c", 2L, 30L)                                   // n=1, ndv=1
    ).toDF("q1", "q2", "user")
    val out = graft.functions.Profile.privacyAudit(df,
        Seq("q1", "q2"), "user", k = 3, l = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getBoolean(5)))).toMap
    assert(out(("a", 1L)) == ((5L, 4L, true, true)))
    // big-enough class that still gives the user away: k passes at
    // k=2... here n=2 < 3 AND a single user -> both gates fail
    assert(out(("b", 1L)) == ((2L, 1L, false, false)))
    assert(out(("c", 2L)) == ((1L, 1L, false, false)))
  }

  test("Profile.calibrationReport: hand-computed bins, p=1 lands in " +
       "the top bin, nulls excluded") {
    import spark.implicits._
    val df = Seq(
      (0.05, Some(false)), (0.08, Some(true)),       // bin 0
      (0.95, Some(true)), (1.0, Some(true)),         // bin 9 (p=1 clamps)
      (0.55, Some(false)),                           // bin 5
      (0.5, None)                                    // unjudged -> excluded
    ).toDF("p", "y")
    val out = graft.functions.Profile.calibrationReport(df, "p", "y")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4)))).toMap
    assert(out.keySet == Set(0L, 5L, 9L), s"${out.keySet}")
    // bin 0: conf (0.05+0.08)/2 = 0.065, acc 0.5, gap 0.435
    assert(out(0L) == ((2L, 0.065, 0.5, 0.435)), s"${out(0L)}")
    // bin 9: perfectly confident and perfectly right
    assert(out(9L) == ((2L, 0.975, 1.0, 0.025)), s"${out(9L)}")
    assert(out(5L) == ((1L, 0.55, 0.0, 0.55)), s"${out(5L)}")
  }

  test("fimTransform: rate gate endpoints, monotone selection, and " +
       "PSM cut-boundary reconstruction") {
    val d = docs.select("doc_id", "text")
    assert(Mixing.fimTransform(d, rate = 0.0)
      .filter(col("fim_applied")).count() == 0L, "rate 0 selects none")
    val ids = (r: Double) => Mixing.fimTransform(d, rate = r)
      .filter(col("fim_applied")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val (lo3, hi7) = (ids(0.3), ids(0.7))
    assert(lo3.subsetOf(hi7),
      "the shared h32 gate makes selection monotone in rate")
    val n = d.count().toDouble
    assert(lo3.size / n > 0.15 && lo3.size / n < 0.45 &&
      hi7.size / n > 0.55 && hi7.size / n < 0.85,
      s"gate fractions ${lo3.size / n} / ${hi7.size / n} off the rates")
    // rate 1: every row rewritten, cuts in range, and the three
    // substrings reassemble the original text exactly (PSM layout)
    val all = Mixing.fimTransform(d, rate = 1.0)
      .join(d.withColumnRenamed("text", "orig"), "doc_id")
      .select("fim_applied", "cut_lo", "cut_hi", "fim_text", "orig")
      .collect()
    assert(all.nonEmpty && all.forall(_.getBoolean(0)))
    var sawZeroLo = false; var sawFullHi = false
    all.foreach { r =>
      val lo = r.getLong(1).toInt; val hi = r.getLong(2).toInt
      val t = r.getString(4)
      assert(0 <= lo && lo <= hi && hi <= t.length,
        s"cuts ($lo,$hi) outside [0,${t.length}]")
      if (lo == 0) sawZeroLo = true
      if (hi == t.length) sawFullHi = true
      assert(r.getString(3) == "<PRE>" + t.substring(0, lo) +
        "<SUF>" + t.substring(hi) + "<MID>" + t.substring(lo, hi))
    }
  }

  test("qualityClassifier: the distilled gate separates the teacher " +
       "classes, beats the majority floor, is deterministic, and " +
       "featureless docs sit at the bias prior") {
    import spark.implicits._
    val teacher = array_contains(TextAnalysis.tokens(col("text")),
      "spark")
    val out = TextAnalysis.qualityClassifier(docs, teacher)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getDouble(2), r.getInt(3)))
    assert(out.length == docs.count())
    // the model must actually learn the teacher: mean score of the
    // positive class well above the negatives, and accuracy above
    // the majority-class floor
    val (pos, neg) = out.partition(_._2 == 1)
    val mPos = pos.map(_._3).sum / pos.length
    val mNeg = neg.map(_._3).sum / neg.length
    assert(mPos > mNeg + 0.1, s"no separation: $mPos vs $mNeg")
    val acc = out.count(r => r._4 == r._2).toDouble / out.length
    val majority = math.max(pos.length, neg.length).toDouble / out.length
    assert(acc > majority + 0.02,
      s"accuracy $acc not above majority $majority")
    // deterministic: a rerun is bit-identical (hash-device training)
    val again = TextAnalysis.qualityClassifier(docs, teacher)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getDouble(2), r.getInt(3)))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // a doc with no tokens has only the bias feature: its score is
    // the learned base rate, identical for every such doc
    val planted = Seq((1L, "aa spark bb"), (2L, ""), (3L, "aa cc"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val p = TextAnalysis.qualityClassifier(planted,
      array_contains(TextAnalysis.tokens(col("text")), "spark"),
      rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p(2L) == p(4L), s"featureless docs must score alike: $p")
    assert(p(1L) > p(3L), s"the spark doc must outscore: $p")
  }

  test("gateRoundGradient: the fused one-pass round equals the SQL " +
       "round's gradient bit for bit (nonzero weights)") {
    val teacher = array_contains(TextAnalysis.tokens(col("text")),
      "spark")
    val dim = 64
    val hvl = TextAnalysis.gateTrainingFeatures(docs, teacher, dim,
        "text", "doc_id")
      .repartition(col("doc_id"))
      .persist()
    try {
      // deterministic nonzero weights — a mid-training round, where
      // rounding in the sigmoid/residual chain would expose any
      // arithmetic drift between the two forms
      val w = Array.tabulate(dim + 1)(b =>
        ((b * 37 % 11) - 5).toDouble / 3.0)
      val fused = TextAnalysis.gateRoundGradient(hvl, w, dim, "doc_id")
      // the SQL reference round: residual aggregate + id-join +
      // bucket-keyed gradient reduce (the pre-r21 trainer plan)
      val sig = TextAnalysis.gateResiduals(hvl, w, "doc_id")
      val sql = hvl.join(sig, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum((col("_r") * col("x")).cast("decimal(38,18)"))
          .as("_g"))
        .select(col("bucket"), col("_g").cast("double").as("_gd"))
        .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      val allB = (0 to dim).toSet
      assert(allB.forall(b =>
        fused.getOrElse(b, 0.0) == sql.getOrElse(b, 0.0)),
        s"fused vs sql gradient mismatch: " +
          allB.filter(b => fused.getOrElse(b, 0.0) != sql.getOrElse(b,
            0.0)).map(b => s"$b: ${fused.getOrElse(b, 0.0)} vs " +
            s"${sql.getOrElse(b, 0.0)}").mkString(", "))
    } finally { hvl.unpersist(); () }
  }

  test("trainLinearGate/applyLinearGate: the split faces reproduce " +
       "the combined scores exactly and generalize to held-out docs") {
    val teacher = array_contains(TextAnalysis.tokens(col("text")),
      "spark")
    // same-corpus split == combined call, bit for bit
    val w = TextAnalysis.trainLinearGate(docs, teacher)
    assert(w.length == 65 && w.exists(_ != 0.0))
    val applied = TextAnalysis.applyLinearGate(docs, w)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1),
        r.getInt(2)))).toMap
    val combined = TextAnalysis.qualityClassifier(docs, teacher)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2),
        r.getInt(3)))).toMap
    assert(applied == combined,
      "apply(train(w)) must equal the combined trainer's scores")
    // held-out: fit on evens, measure RANKING on the UNSEEN odd half
    // (AUC-style concordance — threshold-free, since calibrating the
    // 0.5 cut from 250 training docs is noise)
    // dim 256: at 64 buckets the 31-token vocab still collides
    // enough to cap held-out AUC near 0.68 — widening the hash space
    // is the scale knob (the weights stay model-bounded)
    val wEven = TextAnalysis.trainLinearGate(
      docs.filter(col("doc_id") % 2 === 0), teacher, dim = 256)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    val truth = odd.select(col("doc_id"), teacher.cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val held = TextAnalysis.applyLinearGate(odd, wEven)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val posS = truth.collect { case (id, 1) => held(id) }.toSeq
    val negS = truth.collect { case (id, 0) => held(id) }.toSeq
    val conc = (for (p <- posS; q <- negS) yield
      if (p > q) 1.0 else if (p == q) 0.5 else 0.0)
    val auc = conc.sum / conc.size
    assert(auc > 0.75,
      s"held-out AUC $auc: the gate must rank unseen positives above " +
        "negatives")
  }

  test("gateThresholdSweep: cumulative counts are consistent and " +
       "monotone; the best-F1 operating point is at least the 0.5 " +
       "cut's F1") {
    val teacher = array_contains(TextAnalysis.tokens(col("text")),
      "spark")
    val scored = TextAnalysis.qualityClassifier(docs, teacher,
      rounds = 8)
    val sweep = TextAnalysis.gateThresholdSweep(scored)
      .orderBy(col("threshold").desc).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(6)))
    val nPos = scored.filter(col("label") === 1).count()
    val n = scored.count()
    // identities: tp+fn = positives at every row; the last row
    // includes everything; tp and fp never decrease as t drops
    assert(sweep.forall { case (_, tp, _, fn, _) => tp + fn == nPos })
    assert(sweep.last._2 + sweep.last._3 == n,
      "the lowest threshold must admit every doc")
    sweep.sliding(2).foreach {
      case Array((_, tp1, fp1, _, _), (_, tp2, fp2, _, _)) =>
        assert(tp2 >= tp1 && fp2 >= fp1, "cumulatives must be monotone")
      case _ =>
    }
    // calibration buys F1: the sweep's max is >= the default cut's
    val f1At05 = {
      val tp = scored.filter(col("pred") === 1 &&
        col("label") === 1).count()
      val fp = scored.filter(col("pred") === 1 &&
        col("label") === 0).count()
      2.0 * tp / (2.0 * tp + fp + (nPos - tp))
    }
    val best = sweep.map(_._5).max
    assert(best >= f1At05 - 1e-9,
      s"best sweep F1 $best must cover the 0.5 cut's $f1At05")
  }

  test("fimTransform: SPM layout and NULL-text passthrough") {
    import spark.implicits._
    val planted = Seq((1L, "abcdefgh"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = Mixing.fimTransform(planted, rate = 1.0, spm = true)
      .orderBy("doc_id").collect()
    val sel = rows(0)
    assert(sel.getBoolean(1), "non-null row is selected at rate 1")
    val lo = sel.getLong(2).toInt; val hi = sel.getLong(3).toInt
    val t = "abcdefgh"
    // SPM: <PRE><SUF>suffix<MID>prefix ++ middle (joined continuation)
    assert(sel.getString(4) == "<PRE><SUF>" + t.substring(hi) +
      "<MID>" + t.substring(0, lo) + t.substring(lo, hi))
    val nul = rows(1)
    assert(!nul.getBoolean(1), "NULL text never selected")
    assert(nul.isNullAt(2) && nul.isNullAt(3), "no cuts on passthrough")
    assert(nul.isNullAt(4), "NULL text passes through as NULL")
    // custom sentinels ride both layouts
    val cust = Mixing.fimTransform(planted.filter($"doc_id" === 1L),
        rate = 1.0, preTok = "[P]", sufTok = "[S]", midTok = "[M]")
      .collect()(0).getString(4)
    assert(cust.startsWith("[P]") && cust.contains("[S]") &&
      cust.contains("[M]"))
  }
}
