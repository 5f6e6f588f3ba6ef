package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Custom Catalyst expressions (with `doGenCode`) for the sketch /
  * vector hot paths — the one place the built-in operator set can't
  * express the semantics efficiently: higher-order functions run as
  * CodegenFallback (interpreted, boxed, no CSE), so per-element math
  * over 64-hash families or 64-dim embeddings pays ~50x overhead.
  * Each expression stays inside whole-stage codegen and delegates its
  * per-row loop to a static [[SketchOps]] kernel.
  *
  * Reference scope note: porcupine has no scalar-function library at
  * all (any Haskell fn via `arr`, SURVEY §2.F); these expressions are
  * the Spark-native realization of the beyond-reference LLM-pipeline
  * operator pack's inner loops.
  */
object SketchExprs {

  /** Dense matrix argument (centroid sets, LSH plane sets) for the
    * vector expressions. A bare `Seq[Seq[Double]]` constructor arg is
    * flattened by `Expression.flatArguments`, so every `explain`
    * rendered the FULL matrix (22.7 KB per nearest_cell/probe_cells
    * occurrence at 1024 cells — the dominant term in the IVF-family
    * formatted plans), and case-class equality — hit on every
    * canonicalization / ReuseExchange / subexpression-elimination
    * comparison — walked all cells x dim doubles. This wrapper is a
    * single non-Iterable argument: `toString` is a ~40-char digest
    * (content-hashed, so plan diffs still distinguish different
    * matrices), equality fast-paths on the precomputed hash, and the
    * kernels read the same Array[Array[Double]] they always did.
    * Pure representation — expression semantics are untouched. */
  final class CentMatrix(val rows: Array[Array[Double]])
      extends Serializable {
    override val hashCode: Int = {
      var h = 17
      var i = 0
      while (i < rows.length) {
        h = h * 31 + java.util.Arrays.hashCode(rows(i)); i += 1
      }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case m: CentMatrix =>
        (this eq m) || (hashCode == m.hashCode &&
          rows.length == m.rows.length &&
          rows.indices.forall(i =>
            java.util.Arrays.equals(rows(i), m.rows(i))))
      case _ => false
    }
    override def toString: String = {
      val dim = if (rows.isEmpty) 0 else rows(0).length
      f"mat(${rows.length}x$dim,h=$hashCode%08x)"
    }
  }
  object CentMatrix {
    def apply(m: Seq[Seq[Double]]): CentMatrix =
      new CentMatrix(m.map(_.toArray).toArray)
  }

  private def isFloatArr(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def checkVec(name: String, dts: DataType*): TypeCheckResult =
    dts.collectFirst {
      case dt if !isFloatArr(dt) && !dt.isInstanceOf[ArrayType] =>
        TypeCheckResult.TypeCheckFailure(
          s"$name requires array<float|double>, got $dt")
      case ArrayType(et, _) if et != FloatType && et != DoubleType =>
        TypeCheckResult.TypeCheckFailure(
          s"$name requires array<float|double>, got array<$et>")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  private def checkLongArr(name: String, dts: DataType*): TypeCheckResult =
    dts.collectFirst {
      case dt if !dt.isInstanceOf[ArrayType] ||
          dt.asInstanceOf[ArrayType].elementType != LongType =>
        TypeCheckResult.TypeCheckFailure(
          s"$name requires array<long>, got $dt")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** MinHash signature straight from a text column (tokenize +
    * shingle + hash in one kernel pass): string -> array<long> | null
    * (null when fewer than shingleSize tokens). */
  case class MinHashText(child: Expression, shingleSize: Int, k: Int,
                         seed: Long, xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_text"
    @transient private lazy val (as, bs) = SketchOps.coeffs(k, seed)
    override def nullSafeEval(input: Any): Any =
      SketchOps.minhashText(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        shingleSize, as, bs, xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("mhAs", as, "long[]")
      val bRef = ctx.addReferenceObj("mhBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.SketchOps.minhashText($c, $shingleSize, $aRef, $bRef, $xx);
        ${ev.isNull} = (${ev.value} == null);
      """)
    }
    override protected def withNewChildInternal(newChild: Expression): MinHashText =
      copy(child = newChild)
  }

  /** SimHash straight from a text column: string -> long | null
    * (null when the doc has no tokens). */
  case class SimHashText(child: Expression, xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "simhash_text"
    override def nullSafeEval(input: Any): Any =
      SketchOps.simhashText(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // fresh local: two instances of this expression can land in one
      // generated method (non-nullable children skip the block scope)
      val res = ctx.freshName("simhashRes")
      nullSafeCodeGen(ctx, ev, c => s"""
        Object $res = graft.functions.SketchOps.simhashText($c, $xx);
        if ($res == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Long) $res).longValue(); }
      """)
    }
    override protected def withNewChildInternal(newChild: Expression): SimHashText =
      copy(child = newChild)
  }

  /** SimHash over raw blob bytes: binary -> long | null (< 4 bytes) —
    * distinct 4-byte windows vote, see [[SketchOps.simhashBytes]]. */
  case class SimHashBytes(child: Expression, xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary, got ${child.dataType}")
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "simhash_bytes"
    override def nullSafeEval(input: Any): Any =
      SketchOps.simhashBytes(input.asInstanceOf[Array[Byte]], xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val res = ctx.freshName("simhashBytesRes")
      nullSafeCodeGen(ctx, ev, c => s"""
        Object $res = graft.functions.SketchOps.simhashBytes($c, $xx);
        if ($res == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Long) $res).longValue(); }
      """)
    }
    override protected def withNewChildInternal(newChild: Expression): SimHashBytes =
      copy(child = newChild)
  }

  /** One-pass text statistics: string -> struct<n_chars, n_tokens,
    * n_token_chars, n_punct, n_upper> (all long). Five quality-filter
    * signals in one codegen'd scan of the text — subexpression
    * elimination shares the single struct across the per-field
    * projections. */
  case class TextStats(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_token_chars", LongType, nullable = false),
      StructField("n_punct", LongType, nullable = false),
      StructField("n_upper", LongType, nullable = false)))
    override def prettyName: String = "text_stats"
    override def nullSafeEval(input: Any): Any =
      SketchOps.textStats(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.textStats($c);")
    override protected def withNewChildInternal(newChild: Expression): TextStats =
      copy(child = newChild)
  }

  /** One-pass Gopher repetition statistics (see
    * [[SketchOps.gopherStats]]): string -> struct of line-dup and
    * n-gram-repetition fractions. */
  case class GopherStats(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = StructType(
      StructField("n_lines", LongType, nullable = false) +:
      ("dup_line_frac" :: "dup_line_char_frac" ::
       "top_2gram_frac" :: "top_3gram_frac" :: "top_4gram_frac" ::
       "dup_5gram_frac" :: "dup_6gram_frac" :: "dup_7gram_frac" ::
       "dup_8gram_frac" :: "dup_9gram_frac" :: "dup_10gram_frac" :: Nil)
        .map(StructField(_, DoubleType, nullable = false)))
    override def prettyName: String = "gopher_stats"
    override def nullSafeEval(input: Any): Any =
      SketchOps.gopherStats(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.gopherStats($c);")
    override protected def withNewChildInternal(newChild: Expression): GopherStats =
      copy(child = newChild)
  }

  /** Winnowing fingerprint from text: string -> long. */
  case class FingerprintText(child: Expression, shingleSize: Int, xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = LongType
    override def prettyName: String = "fingerprint_text"
    override def nullSafeEval(input: Any): Any =
      SketchOps.fingerprintText(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        shingleSize, xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SketchOps.fingerprintText($c, $shingleSize, $xx)")
    override protected def withNewChildInternal(newChild: Expression): FingerprintText =
      copy(child = newChild)
  }

  /** Distinct word n-gram shingle hashes: string -> array<long>
    * (empty when the doc has fewer than shingleSize tokens). */
  case class ShingleHashes(child: Expression, shingleSize: Int, xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"
    override def nullSafeEval(input: Any): Any =
      SketchOps.shingleHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        shingleSize, xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.shingleHashes($c, $shingleSize, $xx);")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
  }

  /** [[ShingleHashes]] with the output SORTED ascending — pairs with
    * [[SetOverlapBounded]] so the verify merge never sorts
    * per-candidate (one sort per doc at materialization). */
  case class ShingleHashesSorted(child: Expression, shingleSize: Int,
                                 xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes_sorted"
    override def nullSafeEval(input: Any): Any =
      SketchOps.shingleHashesSorted(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        shingleSize, xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.shingleHashesSorted($c, $shingleSize, $xx);")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashesSorted =
      copy(child = newChild)
  }

  /** Positional word n-gram window hashes: string -> array<long> in
    * token order (empty below windowSize tokens) — [[ShingleHashes]]
    * without the dedup, for position-aware dedup (substring spans). */
  case class WindowHashes(child: Expression, windowSize: Int, xx: Boolean)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "window_hashes"
    override def nullSafeEval(input: Any): Any =
      SketchOps.windowHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        windowSize, xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.windowHashes($c, $windowSize, $xx);")
    override protected def withNewChildInternal(newChild: Expression): WindowHashes =
      copy(child = newChild)
  }

  /** Winnowed fingerprint selection (see [[SketchOps.winnowPrints]]):
    * string -> array<struct<pos:int, h:long>> of MOSS-selected
    * prints. Fused tokenize + window-hash + winnow so the text is
    * scanned once per row — the higher-order-function formulation
    * re-evaluates the hash kernel per element under Catalyst's
    * projection collapse. */
  case class WinnowPrintsExpr(child: Expression, k: Int, w: Int,
                              xx: Boolean)
      extends UnaryExpression {
    // fail at plan build, not per row on an executor: w < 2 would
    // index past the hash array (negative w) or degrade to
    // density-1 selection (w = 1)
    require(k >= 1, s"winnow gram length must be >= 1, got $k")
    require(w >= 2, s"winnow window must cover >= 2 grams, got $w")
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "winnow_prints"
    override def nullSafeEval(input: Any): Any =
      SketchOps.winnowPrints(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        k, w, xx)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.winnowPrints($c, $k, $w, $xx);")
    override protected def withNewChildInternal(newChild: Expression): WinnowPrintsExpr =
      copy(child = newChild)
  }

  /** Canonical text normalization: string -> string (NFC, root-locale
    * lowercase, whitespace collapse, trim). */
  case class NormalizeText(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "normalize_text"
    override def nullSafeEval(input: Any): Any =
      SketchOps.normalizeText(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SketchOps.normalizeText($c)")
    override protected def withNewChildInternal(newChild: Expression): NormalizeText =
      copy(child = newChild)
  }

  /** Accent fold: string -> string (NFD + non-spacing-mark strip —
    * the strip_accents semantics; see SketchOps.accentFold). */
  case class AccentFold(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "accent_fold"
    override def nullSafeEval(input: Any): Any =
      SketchOps.accentFold(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SketchOps.accentFold($c)")
    override protected def withNewChildInternal(newChild: Expression): AccentFold =
      copy(child = newChild)
  }

  /** Bloom membership count: array<long> of shingle hashes -> number
    * with all `k` bloom bits set. The word array rides into codegen as
    * one reference object (like MinHashText's coefficient tables). */
  case class BloomHits(child: Expression, words: Array[Long], k: Int,
                       log2m: Int, shift: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArr(prettyName, child.dataType)
    override def dataType: DataType = LongType
    override def prettyName: String = "bloom_hits"
    override def nullSafeEval(input: Any): Any =
      SketchOps.bloomHits(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        words, k, log2m, shift)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wRef = ctx.addReferenceObj("bloomWords", words, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.bloomHits($c, $wRef, $k, $log2m, $shift);")
    }
    override protected def withNewChildInternal(newChild: Expression): BloomHits =
      copy(child = newChild)
  }

  /** LSH band hashes of a signature: array<long> -> array<long>(bands). */
  case class BandHashes(child: Expression, bands: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArr(prettyName, child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "band_hashes"
    override def nullSafeEval(input: Any): Any =
      SketchOps.bandHashes(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.bandHashes($c, $bands);")
    override protected def withNewChildInternal(newChild: Expression): BandHashes =
      copy(child = newChild)
  }

  /** Marker-word language ID: string -> string lang code ("und" when
    * no marker hits). Marker lists ride as per-language hash sets. */
  case class LangIdExpr(child: Expression, markers: Seq[(String, Seq[String])])
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "lang_id"
    @transient private lazy val sorted = markers.sortBy(_._1)
    @transient private lazy val markerSets: Array[java.util.HashSet[String]] =
      sorted.map { case (_, words) =>
        val s = new java.util.HashSet[String](words.size * 2)
        words.foreach(s.add)
        s
      }.toArray
    @transient private lazy val langNames
        : Array[org.apache.spark.unsafe.types.UTF8String] =
      sorted.map(p =>
        org.apache.spark.unsafe.types.UTF8String.fromString(p._1)).toArray
    override def nullSafeEval(input: Any): Any =
      SketchOps.langId(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        markerSets, langNames)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mRef = ctx.addReferenceObj("langMarkers", markerSets,
        "java.util.HashSet[]")
      val lRef = ctx.addReferenceObj("langNames", langNames,
        "org.apache.spark.unsafe.types.UTF8String[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SketchOps.langId($c, $mRef, $lRef)")
    }
    override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
      copy(child = newChild)
  }

  /** Fraction of agreeing positions of two array<long> signatures. */
  case class SigSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArr(prettyName, left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "sig_sim"
    override def nullSafeEval(a: Any, b: Any): Any =
      SketchOps.sigSim(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SketchOps.sigSim($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SigSim =
      copy(left = l, right = r)
  }

  /** α-bounded overlap over SORTED long arrays (native early-exit
    * merge, [[SketchOps.setOverlapSortedBounded]]):
    * (array<long> sorted, array<long> sorted, double) -> long.
    * Exact |A ∩ B| whenever it can reach the bound; otherwise a
    * value strictly below it — see the kernel contract. */
  case class SetOverlapBounded(first: Expression, second: Expression,
                               third: Expression)
      extends TernaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val arrs = checkLongArr(prettyName, first.dataType, second.dataType)
      if (arrs != TypeCheckResult.TypeCheckSuccess) arrs
      else if (third.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a double bound, got ${third.dataType}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "set_overlap_bounded"
    override def nullSafeEval(a: Any, b: Any, nd: Any): Any =
      SketchOps.setOverlapSortedBounded(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        nd.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, nd) =>
        s"graft.functions.SketchOps.setOverlapSortedBounded($a, $b, $nd)")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): SetOverlapBounded =
      copy(first = f, second = s, third = t)
  }

  /** Dot product of two numeric arrays (float or double), in double. */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVec(prettyName, left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"
    private def lF = isFloatArr(left.dataType)
    private def rF = isFloatArr(right.dataType)
    override def nullSafeEval(a: Any, b: Any): Any =
      SketchOps.dot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], lF,
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], rF)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.SketchOps.dot($a, $lF, $b, $rF)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
      copy(left = l, right = r)
  }

  /** Cosine similarity of two numeric arrays, in double. */
  case class VecCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVec(prettyName, left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine"
    private def lF = isFloatArr(left.dataType)
    private def rF = isFloatArr(right.dataType)
    override def nullSafeEval(a: Any, b: Any): Any =
      SketchOps.cosine(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], lF,
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], rF)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.SketchOps.cosine($a, $lF, $b, $rF)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
      copy(left = l, right = r)
  }

  /** Per-table hyperplane-LSH sign buckets: vec -> array<long>(nTables). */
  case class HyperplaneBits(child: Expression, planes: CentMatrix,
                            planesPerTable: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVec(prettyName, child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "hyperplane_bits"
    private def vF = isFloatArr(child.dataType)
    private def planesArr: Array[Array[Double]] = planes.rows
    override def nullSafeEval(input: Any): Any =
      SketchOps.planeBits(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        vF, planesArr, planesPerTable)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val pRef = ctx.addReferenceObj("lshPlanes", planesArr, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.planeBits($c, $vF, $pRef, $planesPerTable);")
    }
    override protected def withNewChildInternal(newChild: Expression): HyperplaneBits =
      copy(child = newChild)
  }

  /** Nearest-centroid id (squared L2, ties to lowest id): vec -> long. */
  case class NearestCell(child: Expression, cents: CentMatrix)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVec(prettyName, child.dataType)
    override def dataType: DataType = LongType
    override def prettyName: String = "nearest_cell"
    private def vF = isFloatArr(child.dataType)
    private def centsArr: Array[Array[Double]] = cents.rows
    override def nullSafeEval(input: Any): Any =
      SketchOps.nearestCell(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        vF, centsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("ivfCents", centsArr, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SketchOps.nearestCell($c, $vF, $cRef)")
    }
    override protected def withNewChildInternal(newChild: Expression): NearestCell =
      copy(child = newChild)
  }

  /** Squared L2 distance to the NEAREST centroid: vec -> double —
    * the fit gauge behind the index-drift monitor (same cellDists
    * arithmetic as [[NearestCell]], so the value replays with the
    * assignment oracles' sqd formula). */
  case class NearestCellDist(child: Expression, cents: CentMatrix)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVec(prettyName, child.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "nearest_cell_dist"
    private def vF = isFloatArr(child.dataType)
    private def centsArr: Array[Array[Double]] = cents.rows
    override def nullSafeEval(input: Any): Any =
      SketchOps.nearestCellDist(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        vF, centsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("ivfCents", centsArr, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SketchOps.nearestCellDist($c, $vF, $cRef)")
    }
    override protected def withNewChildInternal(newChild: Expression): NearestCellDist =
      copy(child = newChild)
  }

  /** nProbe nearest centroid ids by (distance, id): vec -> array<long>. */
  case class ProbeCells(child: Expression, cents: CentMatrix, nProbe: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVec(prettyName, child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "probe_cells"
    private def vF = isFloatArr(child.dataType)
    private def centsArr: Array[Array[Double]] = cents.rows
    override def nullSafeEval(input: Any): Any =
      SketchOps.probeCells(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        vF, centsArr, nProbe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("ivfCents", centsArr, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SketchOps.probeCells($c, $vF, $cRef, $nProbe);")
    }
    override protected def withNewChildInternal(newChild: Expression): ProbeCells =
      copy(child = newChild)
  }

  // ---- Column-level API ----

  import graft.bridge.ColumnBridge.{column => toCol, expression => toExpr}

  // Hash-family-dependent constructors resolve spark.graft.hash.family
  // here (plan construction, driver side) and bake it into the
  // expression, so the choice serializes with the plan.
  def minhashText(c: Column, shingleSize: Int = 3, k: Int = 64,
                  seed: Long = 42L): Column =
    toCol(MinHashText(toExpr(c), shingleSize, k, seed, SketchOps.xxFamily()))
  def simhashText(c: Column): Column =
    toCol(SimHashText(toExpr(c), SketchOps.xxFamily()))
  def simhashBytes(c: Column): Column =
    toCol(SimHashBytes(toExpr(c), SketchOps.xxFamily()))
  def fingerprintText(c: Column, shingleSize: Int = 4): Column =
    toCol(FingerprintText(toExpr(c), shingleSize, SketchOps.xxFamily()))
  def shingleHashes(c: Column, shingleSize: Int): Column =
    toCol(ShingleHashes(toExpr(c), shingleSize, SketchOps.xxFamily()))
  def windowHashes(c: Column, windowSize: Int): Column =
    toCol(WindowHashes(toExpr(c), windowSize, SketchOps.xxFamily()))
  def winnowPrints(c: Column, k: Int, w: Int): Column =
    toCol(WinnowPrintsExpr(toExpr(c), k, w, SketchOps.xxFamily()))
  def bloomHits(c: Column, words: Array[Long], k: Int, log2m: Int,
                shift: Int): Column =
    toCol(BloomHits(toExpr(c), words, k, log2m, shift))
  def normalizeText(c: Column): Column = toCol(NormalizeText(toExpr(c)))
  def accentFold(c: Column): Column = toCol(AccentFold(toExpr(c)))
  def textStats(c: Column): Column = toCol(TextStats(toExpr(c)))
  def gopherStats(c: Column): Column = toCol(GopherStats(toExpr(c)))
  def bandHashes(c: Column, bands: Int): Column =
    toCol(BandHashes(toExpr(c), bands))
  def langId(c: Column, markers: Seq[(String, Seq[String])]): Column =
    toCol(LangIdExpr(toExpr(c), markers))
  def sigSim(a: Column, b: Column): Column =
    toCol(SigSim(toExpr(a), toExpr(b)))
  def setOverlapBounded(a: Column, b: Column, need: Column): Column =
    toCol(SetOverlapBounded(toExpr(a), toExpr(b), toExpr(need)))
  def shingleHashesSorted(c: Column, shingleSize: Int): Column =
    toCol(ShingleHashesSorted(toExpr(c), shingleSize,
      SketchOps.xxFamily()))
  def vecDot(a: Column, b: Column): Column =
    toCol(VecDot(toExpr(a), toExpr(b)))
  def vecCosine(a: Column, b: Column): Column =
    toCol(VecCosine(toExpr(a), toExpr(b)))
  def hyperplaneBits(v: Column, planes: Seq[Seq[Double]], ppt: Int): Column =
    toCol(HyperplaneBits(toExpr(v), CentMatrix(planes), ppt))
  def nearestCell(v: Column, cents: Seq[Seq[Double]]): Column =
    toCol(NearestCell(toExpr(v), CentMatrix(cents)))
  def nearestCellDist(v: Column, cents: Seq[Seq[Double]]): Column =
    toCol(NearestCellDist(toExpr(v), CentMatrix(cents)))
  def probeCells(v: Column, cents: Seq[Seq[Double]], nProbe: Int): Column =
    toCol(ProbeCells(toExpr(v), CentMatrix(cents), nProbe))
}
