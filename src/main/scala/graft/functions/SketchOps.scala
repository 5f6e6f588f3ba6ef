package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Tight-loop kernels behind the custom Catalyst expressions in
  * [[SketchExprs]]. Each is a plain static method the generated Java
  * code calls directly, so the per-element work runs as JVM-native
  * arithmetic inside whole-stage codegen — versus Spark's interpreted
  * higher-order functions (`transform`/`aggregate` are CodegenFallback:
  * one boxed lambda invocation per element, no common-subexpression
  * elimination), which made the equivalent declarative formulations
  * 10-50x slower on the sketch workloads.
  *
  * The base hash is PLUGGABLE — two families, same downstream
  * arithmetic (affine permutations mod a >2^32 prime, left-to-right
  * double sums):
  *
  *  - `"xx"` (production default): XXH64 seed 42, zero-allocation,
  *    ~10x faster than MD5 per shingle — the family to run at 100 TB.
  *  - `"md5"` (oracle-verification): standard MD5 over UTF-8 bytes,
  *    chosen because it is EXACTLY reproducible in ANSI SQL (DuckDB:
  *    `md5(s)` hex prefix parsed as an integer), so every sketch
  *    operator hash-matches the DuckDB oracle end-to-end. `Verify`
  *    forces this family; the generated oracles in
  *    [[graft.queries.LlmQueries]] assume it.
  *
  * The family is resolved ONCE, at expression construction on the
  * driver (session conf `spark.graft.hash.family` > system property >
  * "xx"), and baked into the expression instance — so it serializes
  * with the plan and is cluster-correct (no executor-side global).
  */
object SketchOps {

  /** Conf key (session conf or system property) selecting the base
    * hash family: "xx" (production) or "md5" (oracle-verification). */
  val FamilyKey = "spark.graft.hash.family"

  /** Resolve the configured family to its kernel flag. Called at plan
    * construction on the driver by the [[SketchExprs]] Column API. */
  def xxFamily(): Boolean = {
    val fam = org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption(FamilyKey))
      .orElse(sys.props.get(FamilyKey))
      .getOrElse("xx")
    fam match {
      case "xx"  => true
      case "md5" => false
      case other => throw new IllegalArgumentException(
        s"$FamilyKey must be 'xx' or 'md5', got '$other'")
    }
  }

  private val XxSeed = 42L

  private def xx64(u: org.apache.spark.unsafe.types.UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(u, org.apache.spark.sql.types.StringType, XxSeed)

  private def xx64Str(s: String): Long =
    xx64(org.apache.spark.unsafe.types.UTF8String.fromString(s))

  private val md5TL: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  // digest() resets the instance, so no explicit reset() is needed
  private def md5Of(bytes: Array[Byte]): Array[Byte] =
    md5TL.get().digest(bytes)

  /** First 4 MD5 bytes, big-endian unsigned (0..2^32-1). SQL:
    * `CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)`. */
  def md5Base32(bytes: Array[Byte]): Long = {
    val d = md5Of(bytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** First 8 MD5 bytes, big-endian (full signed 64-bit). SQL gets the
    * same BITS as two 32-bit halves: hex chars 1-8 = bits 32..63, hex
    * chars 9-16 = bits 0..31. */
  private[graft] def md5Base64(bytes: Array[Byte]): Long = {
    val d = md5Of(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** First 15 MD5 hex chars as a non-negative 60-bit value (= first 8
    * bytes >>> 4). SQL: `CAST('0x' || substring(md5(s), 1, 15) AS
    * BIGINT)` — sign-safe in every engine. */
  private[graft] def md5Base60(bytes: Array[Byte]): Long =
    md5Base64(bytes) >>> 4

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Base hash into [0, 2^32) — the input domain of the affine MinHash
    * permutations. xx: XXH64 folded mod 2^32; md5: first 4 bytes. */
  @inline private def base32Str(s: String, xx: Boolean): Long =
    if (xx) java.lang.Math.floorMod(xx64Str(s), 1L << 32)
    else md5Base32(utf8(s))

  /** Modulus for the affine MinHash family: prime > 2^32. */
  val P: Long = 4294967311L

  /** Family-aware 32-bit base hash as a Column (the base32
    * arithmetic at the DataFrame level): XXH64(seed 42) folded mod
    * 2^32 in production, first 4 MD5 bytes under the oracle family
    * (`CAST('0x'||substring(md5(x),1,8) AS BIGINT)` in SQL).
    * Resolved at plan construction, like the [[graft.functions
    * .SketchExprs]] Column API. */
  def h32Column(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    if (xxFamily()) pmod(xxhash64(c), lit(1L << 32))
    else conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  }

  /** Seeded affine-hash coefficients (a_i odd < 2^31, b_i < 2^31):
    * a*x+b stays inside signed 64-bit for x < 2^32. */
  def coeffs(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var i = 0
    while (i < k) {
      as(i) = rnd.nextLong(1L << 31) | 1L
      bs(i) = rnd.nextLong(1L << 31)
      i += 1
    }
    (as, bs)
  }

  /** Split on single spaces, dropping empty tokens (the semantics of
    * `filter(split(text, " "), t -> t <> '')`). */
  private[graft] def spaceTokens(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      val start = i
      while (i < n && s.charAt(i) != ' ') i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** MinHash signature straight from text: single-space tokenize,
    * word n-gram shingles (duplicates don't affect a min, so no
    * distinct pass needed), affine family as in [[minhash]]. Returns
    * null when the doc has fewer than n tokens (no shingles). */
  def minhashText(text: org.apache.spark.unsafe.types.UTF8String, n: Int,
                  as: Array[Long], bs: Array[Long], xx: Boolean): ArrayData = {
    val toks = spaceTokens(text.toString)
    val nSh = toks.length - (n - 1)
    if (nSh <= 0) return null
    val k = as.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nSh) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h32 = base32Str(sb.toString, xx)
      var p = 0
      while (p < k) {
        val v = (as(p) * h32 + bs(p)) % P
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** SimHash straight from text: single-space tokenize, DISTINCT
    * tokens (simhash counts, so multiplicity matters — match the
    * declarative `array_distinct` semantics), then [[simhash]] bit
    * voting. Null when the doc has no tokens. */
  /** Byte-level SimHash over DISTINCT 4-byte sliding windows — the
    * codec-free near-identical-blob sketch (the multimodal analog of
    * [[simhashText]]: same voting, windows of raw bytes instead of
    * tokens). A 4-byte window packs into one Int, so the distinct set
    * is an IntOpenHashSet-shaped HashSet with no per-window
    * allocation beyond boxing. null for blobs shorter than 4 bytes.
    * xx family hashes the raw window bytes (UTF8String is just a byte
    * carrier); md5 family hashes the same 4 bytes, so an ASCII blob
    * replays in SQL as md5(substring(text, i, 4)). */
  def simhashBytes(bytes: Array[Byte], xx: Boolean): Any = {
    val n = bytes.length
    if (n < 4) return null
    // capacity is only a hint — cap it so a GB-scale blob neither
    // overflows the Int arithmetic nor pre-allocates a 2^30-slot
    // table per row; the set still grows as needed
    val seen = new java.util.HashSet[Integer](
      math.min(n.toLong * 2, 1L << 20).toInt)
    val counts = new Array[Int](64)
    var i = 0
    while (i <= n - 4) {
      val key = ((bytes(i) & 0xFF) << 24) | ((bytes(i + 1) & 0xFF) << 16) |
        ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
      if (seen.add(Integer.valueOf(key))) {
        val win = java.util.Arrays.copyOfRange(bytes, i, i + 4)
        val h =
          if (xx) xx64(org.apache.spark.unsafe.types.UTF8String
            .fromBytes(win))
          else md5Base64(win)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  def simhashText(text: org.apache.spark.unsafe.types.UTF8String,
                  xx: Boolean): Any = {
    val toks = spaceTokens(text.toString)
    if (toks.isEmpty) return null
    val seen = new java.util.HashSet[String](toks.length * 2)
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      if (seen.add(toks(i))) {
        val h =
          if (xx) xx64Str(toks(i)) else md5Base64(utf8(toks(i)))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  /** One-pass text statistics in codepoints, matching the declarative
    * column semantics exactly: n_chars = length(text); n_tokens =
    * count of \s+-separated runs; n_token_chars = non-whitespace
    * codepoints (= sum of token lengths); n_punct = codepoints
    * matching [^A-Za-z0-9\s] (ASCII classes, like the regex);
    * n_upper = [A-Z] codepoints. */
  def textStats(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    var total = 0L; var nonWs = 0L; var punct = 0L; var upper = 0L
    var tokens = 0L
    var inTok = false
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      total += 1
      // RE2 \s (no vertical tab) — must match the oracle's '\s' class
      val ws = cp == ' ' || cp == '\t' || cp == '\n' ||
        cp == '\f' || cp == '\r'
      if (!ws) {
        nonWs += 1
        if (!inTok) { tokens += 1; inTok = true }
      } else inTok = false
      val alnum = (cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= 'a' && cp <= 'z')
      if (!alnum && !ws) punct += 1
      if (cp >= 'A' && cp <= 'Z') upper += 1
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, tokens, nonWs, punct, upper))
  }

  /** 60-bit winnowing-style fingerprint: min of the 60-bit base hash
    * (xx: XXH64 >>> 4; md5: first 15 hex chars) over word n-gram
    * shingles; falls back to the hash of the whole text when the doc
    * has fewer than n tokens. 60 bits keep the value non-negative in
    * every engine's signed BIGINT. */
  def fingerprintText(text: org.apache.spark.unsafe.types.UTF8String,
                      n: Int, xx: Boolean): Long = {
    def h60Str(s: String): Long =
      if (xx) xx64Str(s) >>> 4 else md5Base60(utf8(s))
    val toks = spaceTokens(text.toString)
    val nSh = toks.length - (n - 1)
    if (nSh <= 0)
      return if (xx) xx64(text) >>> 4 else md5Base60(text.getBytes)
    var best = Long.MaxValue
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nSh) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h = h60Str(sb.toString)
      if (h < best) best = h
      i += 1
    }
    best
  }

  /** 60-bit hashes of the DISTINCT word n-gram shingles of a text:
    * the [[fingerprintText]] hash per shingle (xx: XXH64 >>> 4; md5:
    * first 15 hex chars), deduplicated. Empty array when the doc has
    * fewer than n tokens. One pass: tokenize, shingle, hash, set-dedup
    * — the kernel behind contamination / decontamination checks. */
  def shingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
                    n: Int, xx: Boolean): ArrayData = {
    val toks = spaceTokens(text.toString)
    val nSh = toks.length - (n - 1)
    if (nSh <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val seen = new java.util.LinkedHashSet[java.lang.Long](nSh * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nSh) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      val h = if (xx) xx64Str(s) >>> 4 else md5Base60(utf8(s))
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[shingleHashes]] with the hash array SORTED ascending — one
    * O(m log m) sort per DOC at materialization, so downstream
    * pairwise kernels ([[setOverlapSortedBounded]]) can sort-merge
    * WITHOUT per-candidate sorting: a doc appearing in thousands of
    * candidate pairs pays for ordering once, not per pair. */
  def shingleHashesSorted(text: org.apache.spark.unsafe.types.UTF8String,
                          n: Int, xx: Boolean): ArrayData = {
    val arr = shingleHashes(text, n, xx)
    val out = arr.toLongArray()
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** POSITIONAL 60-bit window hashes: the hash of every l-token
    * window of the text, in token order (index i = window starting at
    * token i+1) — [[shingleHashes]] without the dedup, for operators
    * that need WHERE a gram occurs, not just which grams exist
    * (exact-substring dedup spans). Same per-gram hash as the shingle
    * kernel (xx: XXH64 >>> 4; md5: first 15 hex chars — the
    * oracle-replayable family). Empty array below l tokens. */
  def windowHashes(text: org.apache.spark.unsafe.types.UTF8String,
                   l: Int, xx: Boolean): ArrayData = {
    val toks = spaceTokens(text.toString)
    val nWin = toks.length - (l - 1)
    if (nWin <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val out = new Array[Long](nWin)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nWin) {
      sb.setLength(0)
      var j = 0
      while (j < l) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      out(i) = if (xx) xx64Str(s) >>> 4 else md5Base60(utf8(s))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowed fingerprints (Schleimer et al. 2003) in ONE pass:
    * tokenize, hash every `k`-token window (same family rule as
    * [[windowHashes]]), then select the rightmost minimum of each
    * run of `w` consecutive hashes. Selected positions are
    * monotonically non-decreasing as the window slides (the argmin
    * either stays, moves right on a new <= hash, or — when it falls
    * off the left edge — lands on a position to its right), so the
    * position-distinct dedup is a last-selected compare. Returns
    * array<struct<pos:int, h:long>> with 1-based token positions;
    * density ~2/(w+1) of the gram stream. */
  def winnowPrints(text: org.apache.spark.unsafe.types.UTF8String,
                   k: Int, w: Int, xx: Boolean): ArrayData = {
    val toks = spaceTokens(text.toString)
    val nWin = toks.length - (k - 1)
    if (nWin < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val hs = new Array[Long](nWin)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nWin) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      hs(i) = if (xx) xx64Str(s) >>> 4 else md5Base60(utf8(s))
      i += 1
    }
    val sel = new scala.collection.mutable.ArrayBuffer[Any](
      nWin / (w / 2 + 1) + 2)
    var last = -1
    var p = 0
    while (p + w <= nWin) {
      var best = p
      var j = p + 1
      while (j < p + w) {
        if (hs(j) <= hs(best)) best = j
        j += 1
      }
      if (best != last) {
        sel += new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](best + 1, hs(best)))
        last = best
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sel.toArray)
  }

  /** Canonical text normalization: unicode NFC, lowercase (root
    * locale — no Turkish-i surprises from the JVM default), whitespace
    * runs collapsed to single spaces, ends trimmed. The standard
    * pre-dedup/pre-hash canonicalization pass; deliberately NOT NFKC
    * (compatibility folding is lossy) so normalize-then-fingerprint
    * stays reversible in spirit. */
  def normalizeText(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toString
    val nfc =
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val lower = nfc.toLowerCase(java.util.Locale.ROOT)
    // single pass whitespace collapse + trim (regex-free)
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    var pendingSpace = false
    while (i < lower.length) {
      val c = lower.charAt(i)
      if (Character.isWhitespace(c)) { pendingSpace = sb.length() > 0 }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Accent fold: NFD decomposition, then every non-spacing mark
    * (category Mn) dropped — café→cafe, Zürich→Zurich — the
    * multilingual matching/dedup canonicalization BEYOND
    * [[normalizeText]] (which deliberately preserves accents). Same
    * semantics as utf8proc-family `strip_accents` (NFD + mark
    * strip), so the kernel replays against engines that ship it.
    * Characters with no decomposition (ø, ß) pass through — this is
    * accent folding, not lossy transliteration. */
  def accentFold(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toString
    val nfd =
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFD)) s
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK)
        sb.append(c)
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Bloom membership over a shingle-hash array: the number of hashes
    * whose `k` bloom positions are ALL set in `words` (the bit array
    * as 32-bit masks in the low half of each long — see
    * `Contamination.bloomWords`). Position i of hash h is the
    * `log2m`-bit window at bit `i * shift`: disjoint-ish slices of the
    * 60-bit shingle hash, so no rehash is needed per probe. */
  def bloomHits(hs: ArrayData, words: Array[Long], k: Int, log2m: Int,
                shift: Int): Long = {
    val mask = (1L << log2m) - 1L
    var hits = 0L
    var i = 0
    val n = hs.numElements()
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      var all = true
      while (j < k && all) {
        val pos = (h >>> (shift * j)) & mask
        if (((words((pos >> 5).toInt) >> (pos & 31L).toInt) & 1L) == 0L)
          all = false
        j += 1
      }
      if (all) hits += 1
      i += 1
    }
    hits
  }

  /** LSH band hashes of a length-k signature: band b's hash chains
    * XXH64.hashLong over its k/bands rows, seeded by the band index
    * (so identical row-slices in different bands don't collide). */
  def bandHashes(sig: ArrayData, bands: Int): ArrayData = {
    val k = sig.numElements()
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var j = 0
      while (j < r) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(sig.getLong(b * r + j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Marker-word language ID: lowercase, split on whitespace runs
    * (ASCII \s, matching `split(text, "\\s+")`), count hits per
    * marker set; winner = max hits with ties to the lexicographically
    * LAST language (languages pre-sorted ascending by caller), "und"
    * when nothing hits — exactly the `greatest(struct(hits, lang))`
    * declarative semantics. */
  def langId(text: org.apache.spark.unsafe.types.UTF8String,
             markers: Array[java.util.HashSet[String]],
             langs: Array[org.apache.spark.unsafe.types.UTF8String])
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toLowerCase.toString
    var bestHits = 0
    var bestLang: org.apache.spark.unsafe.types.UTF8String = UND
    val counts = new Array[Int](markers.length)
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tok = s.substring(start, i)
        var m = 0
        while (m < markers.length) {
          if (markers(m).contains(tok)) counts(m) += 1
          m += 1
        }
      }
    }
    var m = 0
    while (m < markers.length) {
      if (counts(m) >= bestHits && counts(m) > 0) {
        bestHits = counts(m); bestLang = langs(m)
      }
      m += 1
    }
    bestLang
  }

  private val UND = org.apache.spark.unsafe.types.UTF8String.fromString("und")

  // RE2 \s semantics (tab LF FF CR space — NO vertical tab): the
  // oracles tokenize with DuckDB's regexp_split_to_array(text, '\s+')
  // and RE2 excludes 0x0B, so the kernel must too or a \v in a
  // document silently diverges token counts
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Fraction of agreeing positions between two equal-length long
    * arrays (MinHash signature similarity estimate). */
  def sigSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  /** α-bounded |A ∩ B| (SET semantics) over arrays that are ALREADY
    * SORTED ascending ([[shingleHashesSorted]]) — the similarity-
    * join verify fast path: no per-pair copies or sorts (reads
    * ArrayData in place), and the merge EXITS as soon as the
    * optimistic bound (matches so far + elements remaining on the
    * shorter side) drops below `need`.
    *
    * Contract: when the true overlap can reach `need` the exit can
    * never fire (the bound is an overestimate of the final count),
    * so the EXACT overlap is returned; when it fires, the returned
    * bound is strictly < `need`, so any caller predicate derived
    * from `need` (e.g. jaccard >= t with
    * `need = t/(1+t)·(|A|+|B|) − ε`) evaluates exactly as it would
    * on the true count — failing pairs fail, at a fraction of the
    * merge. Duplicates in either input only INFLATE the optimistic
    * bound (less pruning, never a wrong exit) and are skipped in the
    * count. UNSORTED input is a contract violation (undercounts).
    * PropertySpec pins the exactness/threshold-equivalence laws. */
  def setOverlapSortedBounded(a: ArrayData, b: ArrayData,
                              need: Double): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val rem = math.min(na - i, nb - j)
      if (c + rem < need) return c + rem
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) {
        c += 1L
        do i += 1 while (i < na && a.getLong(i) == x)
        do j += 1 while (j < nb && b.getLong(j) == y)
      }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  @inline private def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Dot product in double precision, left-to-right accumulation
    * (bit-identical to `aggregate(zip_with(...))` and DuckDB
    * `list_sum(list_transform(list_zip(...)))`). */
  def dot(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elem(a, aF, i) * elem(b, bF, i); i += 1 }
    acc
  }

  /** Cosine similarity, one pass, three independent left-to-right
    * accumulators (same doubles as dot/sqrt(normSq)/sqrt(normSq)). */
  def cosine(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, aF, i); val y = elem(b, bF, i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Per-table sign-pattern buckets for random-hyperplane LSH:
    * planes is (nTables*planesPerTable) x dim; out(t) has bit i set
    * iff v . planes(t*ppt+i) >= 0. */
  def planeBits(v: ArrayData, vF: Boolean, planes: Array[Array[Double]],
                ppt: Int): ArrayData = {
    val nTables = planes.length / ppt
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bits = 0L
      var i = 0
      while (i < ppt) {
        val p = planes(t * ppt + i)
        val n = math.min(v.numElements(), p.length)
        var d = 0.0
        var j = 0
        while (j < n) { d += elem(v, vF, j) * p(j); j += 1 }
        if (d >= 0) bits |= (1L << i)
        i += 1
      }
      out(t) = bits
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def cellDists(v: ArrayData, vF: Boolean,
                        cents: Array[Array[Double]]): Array[Double] = {
    val ds = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(v.numElements(), cent.length)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val d = elem(v, vF, j) - cent(j); acc += d * d; j += 1
      }
      ds(c) = acc
      c += 1
    }
    ds
  }

  /** Index of the nearest centroid (squared L2; ties -> lowest id). */
  def nearestCell(v: ArrayData, vF: Boolean,
                  cents: Array[Array[Double]]): Long = {
    val ds = cellDists(v, vF, cents)
    var best = 0
    var c = 1
    while (c < ds.length) { if (ds(c) < ds(best)) best = c; c += 1 }
    best.toLong
  }

  /** Squared L2 to the nearest centroid (the fit gauge). */
  def nearestCellDist(v: ArrayData, vF: Boolean,
                      cents: Array[Array[Double]]): Double = {
    val ds = cellDists(v, vF, cents)
    var best = ds(0)
    var c = 1
    while (c < ds.length) { if (ds(c) < best) best = ds(c); c += 1 }
    best
  }

  /** The nProbe nearest centroid ids, ordered by (distance, id). */
  def probeCells(v: ArrayData, vF: Boolean, cents: Array[Array[Double]],
                 nProbe: Int): ArrayData = {
    val ds = cellDists(v, vF, cents)
    val ids = Array.range(0, ds.length)
    // insertion sort by (dist, id) — centroid counts are tiny
    var i = 1
    while (i < ids.length) {
      val id = ids(i); val d = ds(id)
      var j = i - 1
      while (j >= 0 && (ds(ids(j)) > d || (ds(ids(j)) == d && ids(j) > id))) {
        ids(j + 1) = ids(j); j -= 1
      }
      ids(j + 1) = id
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      ids.take(math.min(nProbe, ids.length)).map(_.toLong))
  }

  /** Whitespace tokens for the Gopher kernel: maximal runs of
    * non-\s codepoints, where \s is the RE2 class the oracle's
    * `regexp_split_to_array(text, '\s+')` uses (space, \t, \n, \f,
    * \r — same class as [[textStats]]). */
  private def wsTokens(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r')
        i += 1
      else {
        val start = i
        while (i < n && {
          val d = s.charAt(i)
          !(d == ' ' || d == '\t' || d == '\n' || d == '\f' || d == '\r')
        }) i += 1
        out += s.substring(start, i)
      }
    }
    out.toArray
  }

  /** One-pass Gopher-style repetition statistics (the repetition
    * signals of Rae et al. 2021, "Scaling Language Models", Table A1),
    * computed per document with NO shuffle — the whole filter is a
    * scan + map at 100 TB:
    *
    *  - lines = non-empty `\n` segments; `dup_line_frac` = line
    *    occurrences beyond the first / total lines (== 1 -
    *    distinct/total); `dup_line_char_frac` = the same numerator
    *    weighted by line codepoint length over total line chars.
    *  - tokens = RE2-\s runs; n-grams are single-space joins (so a
    *    gram string uniquely recovers its token sequence).
    *  - `top_{2,3,4}gram_frac` = max over grams of count ×
    *    gram-token-chars, over total token chars (the "most
    *    char-covering n-gram", a deterministic variant of Gopher's
    *    most-frequent-n-gram that needs no tie-break).
    *  - `dup_{5..10}gram_frac` = chars of token positions covered by
    *    ANY n-gram occurring more than once, over total token chars
    *    (interval-union coverage, not double-counted).
    *
    * Every numerator/denominator is an exact integer and only the
    * final ratio divides, so each fraction replays bit-exact in the
    * DuckDB oracle. All lengths are codepoints (`length()` in
    * DuckDB). */
  def gopherStats(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    // --- lines ---
    var nLines = 0L; var lineChars = 0L
    var dupLines = 0L; var dupLineChars = 0L
    val lineCount = new java.util.HashMap[String, Integer]()
    var i = 0
    val n = s.length
    var more = n > 0
    while (more) {
      val nl = s.indexOf('\n', i)
      val end = if (nl < 0) n else nl
      if (end > i) {
        val line = s.substring(i, end)
        val ll = line.codePointCount(0, line.length).toLong
        nLines += 1; lineChars += ll
        val c = lineCount.merge(line, 1, (a: Integer, b: Integer) =>
          Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > 1) { dupLines += 1; dupLineChars += ll }
      }
      if (nl < 0) more = false else i = nl + 1
    }
    // --- tokens ---
    val toks = wsTokens(s)
    val ntok = toks.length
    val tokLen = new Array[Long](ntok)
    val pre = new Array[Long](ntok + 1) // prefix sums of token chars
    var t = 0
    while (t < ntok) {
      tokLen(t) = toks(t).codePointCount(0, toks(t).length).toLong
      pre(t + 1) = pre(t) + tokLen(t)
      t += 1
    }
    val tchars = pre(ntok)
    // --- n-grams, n = 2..10 ---
    val topNum = new Array[Long](11)   // n -> max(count * gramChars)
    val covNum = new Array[Long](11)   // n -> covered token chars
    var ng = 2
    while (ng <= 10) {
      val nStarts = ntok - ng + 1
      if (nStarts > 0) {
        val grams = new Array[String](nStarts)
        val cnt = new java.util.HashMap[String, Integer]()
        var st = 0
        while (st < nStarts) {
          val sb = new java.lang.StringBuilder(32)
          var j = 0
          while (j < ng) {
            if (j > 0) sb.append(' ')
            sb.append(toks(st + j)); j += 1
          }
          val g = sb.toString
          grams(st) = g
          cnt.merge(g, 1, (a: Integer, b: Integer) =>
            Integer.valueOf(a.intValue + b.intValue))
          st += 1
        }
        if (ng <= 4) {
          var best = 0L
          st = 0
          while (st < nStarts) {
            val v = cnt.get(grams(st)).longValue * (pre(st + ng) - pre(st))
            if (v > best) best = v
            st += 1
          }
          topNum(ng) = best
        } else {
          val covered = new Array[Boolean](ntok)
          st = 0
          while (st < nStarts) {
            if (cnt.get(grams(st)).intValue > 1) {
              var j = st
              while (j < st + ng) { covered(j) = true; j += 1 }
            }
            st += 1
          }
          var cc = 0L
          t = 0
          while (t < ntok) { if (covered(t)) cc += tokLen(t); t += 1 }
          covNum(ng) = cc
        }
      }
      ng += 1
    }
    def frac(num: Long, den: Long): Double =
      if (den == 0L) 0.0 else num.toDouble / den.toDouble
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        nLines,
        frac(dupLines, nLines), frac(dupLineChars, lineChars),
        frac(topNum(2), tchars), frac(topNum(3), tchars),
        frac(topNum(4), tchars),
        frac(covNum(5), tchars), frac(covNum(6), tchars),
        frac(covNum(7), tchars), frac(covNum(8), tchars),
        frac(covNum(9), tchars), frac(covNum(10), tchars)))
  }
}
