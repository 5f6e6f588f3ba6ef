package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton curve) data layout — the lakehouse
  * `OPTIMIZE ... ZORDER BY` primitive: interleave the bits of two
  * clustering keys so that sorting by ONE code keeps BOTH dimensions
  * locally bounded per file. File-level min/max statistics then prune
  * scans filtered on EITHER key — a single-column sort only ever
  * serves its own column.
  *
  * The interleave is plain 64-bit arithmetic (shift/and/or unrolled
  * per bit), so it lives inside whole-stage codegen and is
  * replayable in any engine with integer bit ops.
  */
object ZOrder {

  /** Morton code of two non-negative keys quantized to `bits` bits
    * each (values are taken mod 2^bits — callers with wider domains
    * should range-rank first): bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Total code width 2·bits ≤ 62. */
  private[graft] def morton2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    def spread(x: Column, shiftBy: Int): Column = {
      val q = pmod(x.cast("long"), lit(1L << bits))
      (0 until bits).map { i =>
        shiftleft(shiftrightunsigned(q, i).bitwiseAND(lit(1L)),
          2 * i + shiftBy)
      }.reduce(_.bitwiseOR(_))
    }
    spread(a, 0).bitwiseOR(spread(b, 1))
  }

  /** Scalar reference form of [[morton2]] (same arithmetic, plain
    * longs) — driver-side tooling (computing range boundaries,
    * planning splits) and the law-check target for the Column form. */
  private[graft] def morton2Long(a: Long, b: Long, bits: Int = 16): Long = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    def spread(x: Long, sh: Int): Long = {
      val q = java.lang.Math.floorMod(x, 1L << bits)
      (0 until bits).foldLeft(0L)((acc, i) =>
        acc | (((q >>> i) & 1L) << (2 * i + sh)))
    }
    spread(a, 0) | spread(b, 1)
  }

  /** Rewrite `df` in Z-order layout: range-partition by the Morton
    * code of `(keyA, keyB)` into `numFiles` partitions and sort each
    * partition by it — every output file covers one compact Z-curve
    * segment, so its min/max stats are tight in BOTH keys.
    *
    * Scale: `repartitionByRange` samples the code distribution (one
    * pass), then a single range shuffle + local sort — the standard
    * write-amplification cost of any clustering rewrite, paid once
    * per layout generation. */
  def zorderLayout(df: DataFrame, keyA: String, keyB: String,
                   numFiles: Int, bits: Int = 16): DataFrame = {
    val z = morton2(col(keyA), col(keyB), bits).as("_z")
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Layout AUDIT: bucket the rows into `nBuckets` equal Z-curve
    * segments (ntile over the Morton order with an explicit total
    * tie order) and report each segment's span in both keys — the
    * per-file min/max statistics a scan would prune against. The
    * quality claim: under Z-order BOTH spans stay ~√(cells/bucket)
    * narrow, where a single-key sort leaves the other key's span at
    * full domain width. */
  def zorderAudit(df: DataFrame, keyA: String, keyB: String,
                  nBuckets: Int, tieCols: Seq[String],
                  bits: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = (col("_z").asc +: tieCols.map(col(_).asc))
    val w = Window.orderBy(ord: _*)
    df.withColumn("_z", morton2(col(keyA), col(keyB), bits))
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(keyA)).as(s"min_$keyA"), max(col(keyA)).as(s"max_$keyA"),
        min(col(keyB)).as(s"min_$keyB"), max(col(keyB)).as(s"max_$keyB"))
  }
}
