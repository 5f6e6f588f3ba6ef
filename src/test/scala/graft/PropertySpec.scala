package graft

import graft.functions.SketchOps
import graft.loc.{LocTemplate, Mappings}
import graft.model.{Catalog, Usage, VPath, VirtualFile}
import graft.rep.Repetition
import graft.task.{PTask, RunCtx}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based laws — the ScalaCheck mirror of the reference's
  * Hedgehog suite (porcupine-core/test/Test/Porcupine/PTask.hs:53-56
  * `prop_runnable_id`) extended with the composition laws the Arrow
  * instance promises, catalog-merge laws, template splicing, and
  * kernel/declarative equivalences for the native expressions. Pure
  * driver-side — no SparkSession needed. */
object PropertySpec extends Properties("graft") {

  private val ctx = RunCtx(null, Catalog.empty, Map.empty, Mappings.empty)

  // --- reference prop_runnable_id: identity task returns its input
  property("ptask.identity") = forAll { (n: Int) =>
    PTask.id[Int].run(ctx, n) == n
  }

  property("ptask.arr-composition") = forAll { (n: Int) =>
    val f = (x: Int) => x * 2
    val g = (x: Int) => x - 3
    (PTask.arr(f) >>> PTask.arr(g)).run(ctx, n) == g(f(n))
  }

  property("ptask.composition-associative") = forAll { (n: Int) =>
    val f = PTask.arr((x: Int) => x + 1)
    val g = PTask.arr((x: Int) => x * 2)
    val h = PTask.arr((x: Int) => x - 7)
    ((f >>> g) >>> h).run(ctx, n) == (f >>> (g >>> h)).run(ctx, n)
  }

  property("ptask.fanout-pairs") = forAll { (n: Int) =>
    val f = PTask.arr((x: Int) => x + 1)
    val g = PTask.arr((x: Int) => x.toString)
    (f &&& g).run(ctx, n) == (n + 1, n.toString)
  }

  // --- requirements accumulate monoidally through composition
  private def vfOf(name: String) =
    VirtualFile(VPath("/" + name), Seq("parquet"), Usage.Source)

  property("catalog.merge-through-composition") =
    forAll(Gen.alphaLowerStr.suchThat(_.nonEmpty),
      Gen.alphaLowerStr.suchThat(_.nonEmpty)) { (a, b) =>
      val ta = PTask(Catalog.of(vfOf(a)), (_: RunCtx, x: Int) => x)
      val tb = PTask(Catalog.of(vfOf(b)), (_: RunCtx, x: Int) => x)
      val paths = (ta >>> tb).requirements.paths.map(_.toString).toSet
      paths == Set("/" + a, "/" + b)
    }

  // --- {var} splicing: all bound vars disappear, unbound survive
  private val varName = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString
  property("loc.splice-bound-vars") =
    forAll(varName, Gen.alphaNumStr) { (v, value) =>
      val t = LocTemplate(s"/data/file-{$v}.parquet")
      val spliced = t.splice(Map(v -> value))
      spliced.raw == s"/data/file-$value.parquet" && spliced.variables.isEmpty
    }

  property("loc.splice-unbound-survive") = forAll(varName) { v =>
    val t = LocTemplate(s"/d/{$v}/x.json")
    t.splice(Map.empty).variables == Seq(v)
  }

  // --- IndexRange syntax ("0..10", "[0..3,7]") — REP:114-181
  property("rep.index-range-size") =
    forAll(Gen.choose(0L, 50L), Gen.choose(0L, 50L)) { (lo, d) =>
      Repetition.parseIndexRange(s"$lo..${lo + d}").size == d + 1
    }

  property("rep.index-range-union") =
    forAll(Gen.choose(0L, 20L), Gen.choose(30L, 50L)) { (a, b) =>
      val got = Repetition.parseIndexRange(s"[$a..${a + 2},$b]")
      got == Seq(a, a + 1, a + 2).map(_.toString) :+ b.toString
    }

  // --- kernel/declarative equivalences for the native expressions
  private val spaceyText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "), Gen.const("  ")))
      .map(_.mkString(" "))

  property("kernel.spaceTokens-matches-split-filter") =
    forAll(spaceyText) { s =>
      SketchOps.spaceTokens(s).toSeq == s.split(" ").filter(_.nonEmpty).toSeq
    }

  // windowHashes = shingleHashes without the dedup: position count is
  // exact and the value SETS agree, for both hash families
  property("kernel.windowHashes-positional-consistency") =
    forAll(spaceyText, Gen.choose(1, 5), Gen.oneOf(true, false)) {
      (s, n, xx) =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        val wins = SketchOps.windowHashes(u, n, xx).toLongArray()
        val sh = SketchOps.shingleHashes(u, n, xx).toLongArray()
        val nToks = SketchOps.spaceTokens(s).length
        wins.length == math.max(0, nToks - n + 1) &&
          wins.toSet == sh.toSet
    }

  property("kernel.cosine-self-is-one") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100, 100))) { xs =>
      val a = toArrayData(xs.map(_.toDouble))
      xs.forall(_ == 0) || {
        val c = SketchOps.cosine(a, false, a, false)
        math.abs(c - 1.0) < 1e-9
      }
    }

  property("kernel.dot-matches-naive") =
    forAll(Gen.listOfN(8, Gen.choose(-50, 50)),
      Gen.listOfN(8, Gen.choose(-50, 50))) { (xs, ys) =>
      val got = SketchOps.dot(toArrayData(xs.map(_.toDouble)), false,
        toArrayData(ys.map(_.toDouble)), false)
      val want = xs.zip(ys).map { case (x, y) => x.toDouble * y }.sum
      math.abs(got - want) < 1e-9
    }

  property("kernel.sigSim-bounds-and-self") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 1000L))) { sig =>
      val a = toArrayDataL(sig)
      SketchOps.sigSim(a, a) == 1.0
    }

  property("kernel.setOverlapSortedBounded: exact when the bound is " +
    "reachable, threshold-equivalent always") =
    forAll(Gen.listOf(Gen.choose(0L, 40L)),
      Gen.listOf(Gen.choose(0L, 40L)),
      Gen.choose(1, 99)) { (xs0, ys0, tPct) =>
      val t = tPct / 100.0
      // SORTED-input contract (duplicates allowed — they may only
      // loosen the early exit, never corrupt it)
      val xs = xs0.sorted; val ys = ys0.sorted
      val truth = xs.toSet.intersect(ys.toSet).size.toLong
      // the caller's arithmetic: sizes are DISTINCT set sizes
      // (ShingleHashes emits distinct arrays), need is the exact
      // overlap a pair must reach for jaccard >= t
      val s = xs.distinct.size + ys.distinct.size
      val need = t / (1.0 + t) * s - 1e-9
      val got = SketchOps.setOverlapSortedBounded(
        toArrayDataL(xs), toArrayDataL(ys), need)
      def passes(v: Long) = s > 0 && v.toDouble / (s - v) >= t
      // law 1: a pair that reaches the bound is counted EXACTLY
      // law 2: the derived jaccard predicate agrees with the truth
      // either way (early-exited pairs still fail it)
      (truth.toDouble < need || got == truth) &&
        passes(got) == passes(truth)
    }

  property("kernel.minhash-deterministic-and-in-range") =
    forAll(Gen.nonEmptyListOf(Gen.identifier)) { words =>
      val text = org.apache.spark.unsafe.types.UTF8String
        .fromString(words.mkString(" "))
      val (as, bs) = SketchOps.coeffs(16, 42L)
      val s1 = SketchOps.minhashText(text, 1, as, bs, xx = true)
      val s2 = SketchOps.minhashText(text, 1, as, bs, xx = true)
      val m1 = SketchOps.minhashText(text, 1, as, bs, xx = false)
      (0 until s1.numElements()).forall { i =>
        s1.getLong(i) == s2.getLong(i) &&
          s1.getLong(i) >= 0 && s1.getLong(i) < SketchOps.P &&
          m1.getLong(i) >= 0 && m1.getLong(i) < SketchOps.P
      }
    }

  // --- options precedence Default < spec < CLI (OptParse.hs:50-61)
  property("options.cli-beats-spec-beats-default") =
    forAll(Gen.choose(0, 999), Gen.choose(0, 999)) { (specV, cliV) =>
      import graft.config._
      val schema = OptionsSchema(Seq(OptField("p.x", Some(OptNum(1)), "doc")))
      import graft.serial.{JNum => JN, JObj}
      val spec = JObj(Seq("p" -> JObj(Seq("x" -> JN(specV)))))
      val fromSpec = schema.resolve(Some(spec), Nil)
      val fromCli = schema.resolve(Some(spec), Seq("--p-x", cliV.toString))
      val dflt = schema.resolve(None, Nil)
      dflt("p.x")._1 == OptNum(1) &&
        fromSpec("p.x")._1 == OptNum(specV) &&
        fromCli("p.x")._1 == OptNum(cliV)
    }

  private def toArrayData(xs: Seq[Double]) =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(xs.toArray)
  private def toArrayDataL(xs: Seq[Long]) =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(xs.toArray)

  // --- byte-SimHash kernel vs an independently-written naive mirror:
  // distinct 4-byte windows, md5 first-8-bytes big-endian, ±1 bit
  // voting — any divergence (window iteration, distinctness keying,
  // byte signedness) falsifies immediately on random binaries.
  property("kernel.simhash-bytes-naive-equivalence") =
    forAll(Gen.chooseNum(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))) { bl =>
      val bytes = bl.toArray
      val naive: Option[Long] =
        if (bytes.length < 4) None
        else {
          val wins = bytes.sliding(4).map(_.toSeq).toSeq.distinct
          val md = java.security.MessageDigest.getInstance("MD5")
          val counts = Array.fill(64)(0)
          wins.foreach { w =>
            val d = md.digest(w.toArray)
            val h = (0 until 8).foldLeft(0L)((a, i) =>
              (a << 8) | (d(i) & 0xFFL))
            (0 until 64).foreach(b =>
              if (((h >>> b) & 1L) == 1L) counts(b) += 1
              else counts(b) -= 1)
          }
          Some((0 until 64).foldLeft(0L)((a, b) =>
            if (counts(b) > 0) a | (1L << b) else a))
        }
      val kernel = Option(SketchOps.simhashBytes(bytes, xx = false))
        .map(_.asInstanceOf[Long])
      kernel == naive
    }

  // --- Misra-Gries mergeable-summary laws (Misra & Gries 1982;
  // Agarwal et al. 2013): for ANY stream and ANY partitioning into
  // reduce+merge runs, the summary keeps exact n, at most m counters,
  // every item above n/(m+1) present, and undercounts bounded by
  // n/(m+1). The aggregator state machine is pure Scala — provable
  // without a SparkSession.
  private val mgTokens: Gen[List[String]] =
    Gen.listOfN(240, Gen.frequency(
      6 -> Gen.const("hot"), 3 -> Gen.const("warm"),
      2 -> Gen.const("mild"), 1 -> Gen.choose(0, 60).map("t" + _)))

  property("mg.mergeable-summary-laws") =
    forAll(mgTokens, Gen.choose(1, 7)) { (ts, splits) =>
      val m = 6
      val agg = new graft.llm.HeavyHitters.MisraGriesAgg(m)
      val step = math.max(1, ts.size / splits)
      val parts = if (ts.isEmpty) Seq(Nil) else ts.grouped(step).toSeq
      val merged = parts
        .map(_.foldLeft(agg.zero)(agg.reduce))
        .reduceLeft(agg.merge)
      val (cand, n) = agg.finish(merged)
      val exact = ts.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = ts.size / (m + 1.0)
      n == ts.size.toLong &&
        cand.size <= m &&
        exact.filter(_._2 > bound).keySet.subsetOf(cand.keySet) &&
        cand.forall { case (t, c) =>
          c <= exact(t) && exact(t) - c <= bound + 1e-9 }
    }

  // --- winnow kernel vs an independently-written naive mirror: md5-60
  // gram hashes, rightmost-min (<=) per w-window, order-preserving
  // position dedup. A 3-symbol vocabulary makes grams repeat, so the
  // tie rule and the dedup both get exercised; any divergence
  // (iteration bounds, tie direction, 1-based offsets) falsifies.
  property("kernel.winnow-naive-equivalence") =
    forAll(
      Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c"))),
      Gen.chooseNum(2, 3), Gen.chooseNum(2, 4)) { (toks, k, w) =>
      val text = toks.mkString(" ")
      val naive: Seq[(Int, Long)] = {
        val m = toks.length - (k - 1)
        if (m < w) Seq.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hs = (0 until m).map { i =>
            val d = md.digest(toks.slice(i, i + k).mkString(" ")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            ((0 until 8).foldLeft(0L)((a, j) =>
              (a << 8) | (d(j) & 0xFFL))) >>> 4
          }
          (0 until (m - w + 1)).map { p =>
            (p until p + w).foldLeft(p)((best, j) =>
              if (hs(j) <= hs(best)) j else best)
          }.distinct.map(b => (b + 1, hs(b)))
        }
      }
      val kernel = SketchOps.winnowPrints(
        org.apache.spark.unsafe.types.UTF8String.fromString(text),
        k, w, xx = false)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.InternalRow]
          (row.getInt(0), row.getLong(1))
        }
      kernel == naive
    }

  // --- accent fold laws
  private def fold(s: String): String =
    SketchOps.accentFold(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString

  property("accentFold.idempotent") = forAll { (s: String) =>
    fold(fold(s)) == fold(s)
  }

  property("accentFold.normalization-invariant") = forAll { (s: String) =>
    // precomposed and decomposed spellings fold to the same string
    val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    fold(nfc) == fold(nfd)
  }

  property("accentFold.ascii-fixed-point") =
    forAll(Gen.asciiPrintableStr) { (s: String) =>
      fold(s) == s   // ascii is NFD-stable and mark-free
    }

  // --- normalizeText/accentFold interaction: folding commutes with
  // the lowercase+collapse canonicalization on ascii-space text
  property("accentFold.never-grows-codepoints") = forAll { (s: String) =>
    fold(s).codePointCount(0, fold(s).length) <=
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .codePointCount(0, java.text.Normalizer.normalize(s,
          java.text.Normalizer.Form.NFD).length)
  }

  // --- Morton interleave laws (scalar reference form; JoinsSpec
  // pins the Column kernel to hand-checked values)
  import graft.functions.ZOrder.morton2Long

  private val genKey = Gen.chooseNum(0L, (1L << 16) - 1)

  property("morton.bit-planes-disjoint-and-compose") =
    forAll(genKey, genKey) { (a, b) =>
      val ma = morton2Long(a, 0L)
      val mb = morton2Long(0L, b)
      (ma & mb) == 0L && (ma | mb) == morton2Long(a, b)
    }

  property("morton.injective-via-deinterleave") =
    forAll(genKey, genKey) { (a, b) =>
      val z = morton2Long(a, b)
      def gather(sh: Int): Long =
        (0 until 16).foldLeft(0L)((acc, i) =>
          acc | (((z >>> (2 * i + sh)) & 1L) << i))
      gather(0) == a && gather(1) == b
    }

  // --- unigram Viterbi: the DP equals full segmentation enumeration
  // under the exact (Σlogp desc, pieces asc, path asc) order — the
  // law the oracle's recursive-CTE replay is built on. Log-probs are
  // drawn from a SMALL set so ties are common and the tie rules are
  // actually exercised.
  private val abc = Gen.listOfN(6, Gen.oneOf('a', 'b', 'c'))
    .map(_.mkString)
  private val genLp = Gen.oneOf(-0.5, -1.0, -1.5, -2.0)
  private val genProbs: Gen[Map[String, Double]] = {
    val pieces = for {
      ls <- Gen.listOfN(4,
        Gen.listOfN(2, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
      ps <- Gen.listOfN(4 + 3, genLp)
    } yield (ls ++ Seq("a", "b", "c")).distinct.zip(ps).toMap
    pieces
  }

  private def allSegs(word: String, probs: Map[String, Double],
                      maxLen: Int): Seq[Seq[String]] =
    if (word.isEmpty) Seq(Nil)
    else (1 to math.min(maxLen, word.length)).flatMap { l =>
      val p = word.take(l)
      if (probs.contains(p))
        allSegs(word.drop(l), probs, maxLen).map(p +: _)
      else Nil
    }

  property("viterbi.equals-enumeration-with-ties") =
    forAll(abc, genProbs) { (word, probs) =>
      val maxLen = 2
      val dp = graft.llm.TextAnalysis.viterbiPieces(word, probs, maxLen)
      val enum = allSegs(word, probs, maxLen)
        .map { segs =>
          (segs.foldLeft(0.0)((s, p) => s + probs(p)), segs.length,
            segs.mkString("\u0001"))
        }
        .sortBy { case (lp, n, path) => (-lp, n, path) }
      word.isEmpty ||
        (enum.nonEmpty && dp.mkString("\u0001") == enum.head._3)
    }

  property("viterbi.reconstructs-word") =
    forAll(abc, genProbs) { (word, probs) =>
      graft.llm.TextAnalysis.viterbiPieces(word, probs, 2)
        .mkString == word
    }

  // --- ImageIO decoder laws: a uniform-color image survives a real
  // PNG encode→decode with EXACT dimensions and exact channel stats
  // (integer pixel sums divide out: (n·c)/(n·255) rounds identically
  // to c/255), and every statistic is bounded in [0, 1].
  property("multimodal.imageio-uniform-roundtrip-exact") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 8), Gen.choose(0, 255),
      Gen.choose(0, 255), Gen.choose(0, 255)) { (w, h, r, g, b) =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      val (dw, dh, frames, vec) =
        graft.llm.Multimodal.MediaDecoder.ImageIO
          .decode("image", out.toByteArray)
      val luma = ((r + g + b).toDouble / (3.0 * 255.0)).toFloat
      dw == w && dh == h && frames == 1 && vec.length == 8 &&
        vec(0) == (r / 255.0).toFloat && vec(1) == (g / 255.0).toFloat &&
        vec(2) == (b / 255.0).toFloat && vec(3) == luma &&
        vec.forall(v => v >= 0.0f && v <= 1.0f) &&
        // quadrant lumas: every populated quadrant of a uniform image
        // carries the same luma; degenerate (empty) quadrants read 0
        vec.drop(4).forall(v => v == luma || v == 0.0f)
    }

  // --- AudioIO decoder laws: arbitrary 16-bit PCM survives a real
  // WAV encode→decode with EXACT frame/rate/channel metadata and
  // exactly the directly-computed level statistics (samples are
  // dyadic rationals; the ≤ 2^38-numerator sums stay exact in double,
  // so the decoder's float32 outputs are deterministic functions of
  // the integers).
  property("multimodal.audioio-pcm-roundtrip-exact") =
    forAll(Gen.oneOf(8000f, 16000f, 44100f), Gen.choose(1, 2),
      Gen.nonEmptyListOf(Gen.choose(-32768, 32767))) {
      (rate, channels, samples0) =>
      // whole frames only: trim to a multiple of the channel count
      val samples = samples0.take(
        math.max(channels, samples0.size / channels * channels))
        .padTo(channels, 0)
      val frames = samples.size / channels
      val pcm = samples.take(frames * channels).flatMap(v =>
        Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)).toArray
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, channels, channels * 2, rate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      val (dRate, dCh, dFrames, vec) =
        graft.llm.Multimodal.MediaDecoder.AudioIO
          .decode("audio", out.toByteArray)
      def chStats(c: Int): (Float, Float) = {
        val vs = (0 until frames)
          .map(f => samples(f * channels + c) / 32768.0)
        (math.sqrt(vs.map(v => v * v).sum / frames).toFloat,
          vs.map(math.abs).max.toFloat)
      }
      val (r0, p0) = chStats(0)
      val (r1, p1) = if (channels == 2) chStats(1) else (r0, p0)
      dRate == rate.toInt && dCh == channels && dFrames == frames &&
        vec.length == 8 &&
        vec(0) == r0 && vec(1) == r1 && vec(2) == p0 && vec(3) == p1 &&
        vec.forall(v => v >= 0.0f && v <= 1.0f)
    }

  // --- dHash kernel geometry laws: on a cell-aligned raster with
  // tie-free rows/columns, mirroring the image horizontally reverses
  // and NEGATES each row's gradient bits, and flipping vertically
  // permutes whole rows — the exact symmetries the 9x8
  // adjacent-compare definition implies.
  private def cellImage(cells: Seq[Seq[Int]])
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 18) {
      val v = cells(y / 2)(x / 2)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }
  private val tieFreeCells: Gen[Seq[Seq[Int]]] =
    Gen.listOfN(8, Gen.pick(9, 0 until 256).map(_.toSeq))
      .map(_.toSeq)
  property("multimodal.dhash-mirror-and-flip-laws") =
    forAll(tieFreeCells) { cells =>
      val base = graft.llm.Multimodal.dhash64(cellImage(cells))
      val mirrored = graft.llm.Multimodal.dhash64(
        cellImage(cells.map(_.reverse)))
      val flipped = graft.llm.Multimodal.dhash64(
        cellImage(cells.reverse))
      def bit(h: Long, r: Int, c: Int) = (h >>> (r * 8 + c)) & 1L
      (0 until 8).forall { r =>
        (0 until 8).forall { c =>
          bit(mirrored, r, c) == 1L - bit(base, r, 7 - c) &&
          bit(flipped, r, c) == bit(base, 7 - r, c)
        }
      }
    }

  // --- acoustic fingerprint laws: scaling every sample by k scales
  // every segment energy by exactly k^2, so the gradient bits are
  // amplitude-invariant; sub-64-frame clips are unsignable.
  property("multimodal.audiofp-amplitude-invariant") =
    forAll(Gen.choose(64, 300), Gen.choose(2, 16),
      Gen.listOfN(600, Gen.choose(-1024, 1023))) {
      (frames, k, samples) =>
      def pcm(scale: Int): Array[Byte] =
        samples.take(frames).flatMap { v =>
          val s = v * scale
          Seq((s & 0xFF).toByte, ((s >> 8) & 0xFF).toByte)
        }.toArray
      val base = graft.llm.Multimodal.afp64(pcm(1), 1)
      base.isDefined &&
        graft.llm.Multimodal.afp64(pcm(k), 1) == base &&
        graft.llm.Multimodal.afp64(
          pcm(1).take(63 * 2), 1).isEmpty
    }
}
