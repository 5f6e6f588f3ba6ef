package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column math, built from codegen'd higher-order
  * functions (`zip_with`/`aggregate`) — no UDFs, so the hot path stays
  * inside whole-stage codegen and columnar parquet reads.
  *
  * All arithmetic is promoted to double BEFORE multiply/accumulate:
  * float math would lose the determinism the correctness oracle needs
  * (and real pipelines want the extra precision for thresholds anyway).
  * Summation is left-to-right (`aggregate` semantics), which matches
  * DuckDB's `list_sum` order, keeping results bit-identical.
  */
object VectorOps {

  /** Let-binding for Column expressions: evaluate `value` ONCE per row
    * and hand it to `body` as a lambda variable. Catalyst's
    * CollapseProject inlines intermediate projections into every use
    * site, and higher-order functions are interpreted (CodegenFallback
    * — no common-subexpression elimination), so a body that uses an
    * expensive array expression N times would otherwise recompute it
    * N times. Implemented as `transform` over a one-element array:
    * the lambda variable IS the materialized value. */
  private[graft] def bindOnce(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)

  /** Dot product of two float-array columns, accumulated in double.
    * Native codegen'd expression (identical accumulation order to the
    * declarative `aggregate(zip_with(...))` form, so oracle results
    * are bit-stable). */
  def dot(a: Column, b: Column): Column =
    graft.functions.SketchExprs.vecDot(a, b)

  /** Squared L2 norm (double). */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity in double precision (native expression). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.SketchExprs.vecCosine(a, b)

  /** Norm column for [[cosineHoisted]]: `sqrt(dot(v,v))`, accumulated
    * exactly like the fused [[cosine]] kernel's own norm pass. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine from precomputed norms: `dot(a,b) / (na * nb)` — the SAME
    * doubles as [[cosine]] (dot(a,a) accumulates x*x left-to-right
    * exactly like the fused kernel, and the kernel divides by
    * `sqrt(aa) * sqrt(bb)` in this order), so results stay
    * bit-identical and oracle-replayable. The point: in an N x M
    * scoring join the fused kernel re-accumulates BOTH norms for every
    * pair (three multiply-adds per element); computing [[norm]] once
    * per row on each side leaves a dot-only inner loop — ~3x fewer
    * flops where the engine spends most of its ANN time. */
  def cosineHoisted(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Euclidean distance (double). */
  def l2(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x))

  /** L2-normalized copy (array<double>): each component divided by the
    * vector's norm — the standard embedding prep before cosine/ANN
    * (unit vectors turn cosine into a plain dot product). The norm is
    * computed ONCE per row via [[bindOnce]]; zero vectors pass through
    * unchanged (no division by zero). */
  def l2Normalize(a: Column): Column =
    bindOnce(sqrt(normSq(a))) { n =>
      transform(a, x =>
        when(n > 0.0, x.cast("double") / n).otherwise(x.cast("double")))
    }

  /** Symmetric per-vector int8 scalar quantization:
    * `q_i = floor(x_i * 127 / max|x| + 0.5)` as `tinyint` (zero
    * vectors quantize to zeros). A quantized corpus copy is 4x
    * smaller than float32 — scan and shuffle volume for ANN scoring
    * drop with it, which is the point at 100 TB. `floor(x + 0.5)`
    * (not half-even `round`) so the rule replays bit-identically in
    * any engine; cosine over int8 values is EXACT integer arithmetic
    * in double, so quantized scores are order- and
    * partitioning-independent. */
  def quantizeInt8(a: Column): Column =
    bindOnce(aggregate(a, lit(0.0),
      (m, x) => greatest(m, abs(x.cast("double"))))) { maxAbs =>
      transform(a, x =>
        when(maxAbs > 0.0,
          floor(x.cast("double") * 127.0 / maxAbs + 0.5).cast("tinyint"))
          .otherwise(lit(0).cast("tinyint")))
    }
}
