package graft

import graft.rep.Joins
import graft.streaming.Sessionize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the beyond-reference join/session operators:
  * hand-checkable fixtures pinning the corner cases the oracles'
  * bulk data cannot isolate (no-match nulls, tolerance, interval
  * boundaries, gap edges). */
class JoinsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  test("asofJoin: backward match, exact-ts match, no-match null") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 100L, 40L),
      (4L, 200L, 5L)).toDF("ev", "k", "t")
    // right rows at t=10 and t=25 for key 1; key 2 has none
    val right = Seq((100L, 10L, 1.5), (100L, 25L, 2.5))
      .toDF("k", "t", "v")
    val got = Joins.asofJoin(
        left.withColumnRenamed("k", "kk"), right.withColumnRenamed("k", "kk"),
        "kk", "t", Seq("v"))
      .orderBy(col("ev"))
      .select(col("ev"), col("asof_v"), col("asof_ts")).collect()
    // t=10: right@10 matches exactly; t=25: right@25 (not 10); t=40:
    // still right@25; key 2: nulls
    assert(got(0).getDouble(1) == 1.5 && got(0).getLong(2) == 10L)
    assert(got(1).getDouble(1) == 2.5 && got(1).getLong(2) == 25L)
    assert(got(2).getDouble(1) == 2.5 && got(2).getLong(2) == 25L)
    assert(got(3).isNullAt(1) && got(3).isNullAt(2))
  }

  test("asofJoin: tolerance nulls out stale matches") {
    import spark.implicits._
    val left = Seq((1L, 100L, 50L)).toDF("ev", "k", "t")
    val right = Seq((100L, 10L, 9.9)).toDF("k", "t", "v")
    val within = Joins.asofJoin(left, right, "k", "t", Seq("v"),
      tolerance = Some(40L)).select(col("asof_v")).collect()
    assert(within(0).getDouble(0) == 9.9)
    val stale = Joins.asofJoin(left, right, "k", "t", Seq("v"),
      tolerance = Some(39L)).select(col("asof_v")).collect()
    assert(stale(0).isNullAt(0))
  }

  test("rangeJoin: [lo, hi) boundaries; equals the predicate join " +
       "for every width") {
    import spark.implicits._
    val points = Seq((1L, 0.0), (2L, 49.999), (3L, 50.0), (4L, 99.9),
      (5L, 100.0), (6L, 150.0), (7L, -1.0)).toDF("id", "x")
    val iv = Seq(("a", 0.0, 50.0), ("b", 50.0, 100.0), ("c", 50.0, 150.0))
      .toDF("band", "lo", "hi")
    val expect = points.join(iv, col("x") >= col("lo") && col("x") < col("hi"))
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet
    // boundary sanity: 50.0 joins b and c (not a); 100.0 joins only c
    assert(expect == Set((1L, "a"), (2L, "a"), (3L, "b"), (3L, "c"),
      (4L, "b"), (4L, "c"), (5L, "c")))
    for (w <- Seq(10.0, 50.0, 75.0, 1000.0)) {
      val got = Joins.rangeJoin(points, iv, "x", "lo", "hi", w)
        .select("id", "band").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect, s"width $w")
    }
  }

  test("sessionize: gap boundary is exclusive; indices are per-key") {
    import spark.implicits._
    // gaps of exactly 10 stay in-session; 11 opens a new one
    val ev = Seq((1L, 0L), (1L, 10L), (1L, 21L), (1L, 31L),
      (2L, 5L)).toDF("k", "t")
    val got = Sessionize.sessionize(ev, "k", "t", gap = 10L)
      .orderBy(col("k"), col("t"))
      .select(col("k"), col("t"), col("session_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 0L, 0L), (1L, 10L, 0L), (1L, 21L, 1L),
      (1L, 31L, 1L), (2L, 5L, 0L)))
  }

  test("funnel: strict ordering between stages, same-instant tie " +
       "does not advance, stall nulls the tail") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "view", 10L), (1L, "click", 20L), (1L, "signup", 30L),
      (1L, "purchase", 40L),
      // user 2: purchase BEFORE signup -> stalls at click
      (2L, "view", 10L), (2L, "click", 20L), (2L, "purchase", 25L),
      (2L, "signup", 30L),
      // user 3: click at the SAME instant as view -> tie, no advance
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: never viewed -> stage 0 despite later events
      (4L, "click", 5L), (4L, "purchase", 6L)
    ).toDF("user_id", "event_type", "tsu")
    val out = graft.rep.Joins.funnel(ev,
        Seq("view", "click", "signup", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 4L, s"$out")
    // user 2's purchase@25 precedes signup@30: the signup stage
    // still completes (30 > click@20) but purchase cannot follow it
    assert(out(2L) == 3L,
      s"out-of-order purchase must not close the funnel: $out")
    assert(out(3L) == 1L, s"same-instant tie must not advance: $out")
    assert(out(4L) == 0L, s"$out")
  }

  test("bloom decontamination: finds every truly contaminated doc " +
       "(no false negatives), and the planted-clean doc survives") {
    import spark.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "xx alpha beta gamma delta epsilon yy"), // shares a 5-gram
      (2L, "totally different words with no overlap at all"),
      (3L, "alpha beta gamma delta")                // only 4 tokens shared
    ).toDF("doc_id", "text")
    val words = graft.llm.Contamination.bloomWords(bench, n = 5)
    val flagged = graft.llm.Contamination
      .bloomContaminatedDocs(corpus, words, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.contains(1L), "bloom can never miss a true positive")
    // exact path agreement on the true-positive set
    val exact = graft.llm.Contamination
      .contaminatedDocs(corpus, bench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L))
    assert(exact.subsetOf(flagged))
  }

  test("ZOrder: morton interleave bit-exact; z-layout bounds BOTH " +
       "key spans where a single-key sort leaves one at full width") {
    import spark.implicits._
    import graft.functions.ZOrder
    // hand-checked interleaves at bits=2
    val m = Seq((3L, 1L), (2L, 3L), (0L, 0L)).toDF("a", "b")
      .select(ZOrder.morton2($"a", $"b", bits = 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(m == Seq(7L, 14L, 0L))  // 11&01->0111; 10&11->1110; 0
    // 32x32 grid: audit 16 z-buckets vs 16 single-key-sort buckets
    val grid = (for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong, y.toLong, (x * 32 + y).toLong))
      .toDF("x", "y", "id")
    val zspans = ZOrder.zorderAudit(grid, "x", "y", nBuckets = 16,
        tieCols = Seq("id"), bits = 8)
      .collect().map(r => (r.getLong(3) - r.getLong(2),
        r.getLong(5) - r.getLong(4)))
    // every z-segment is a compact curve region: both spans <= 15
    // (vs domain width 31); a sort by x alone leaves every bucket's
    // y-span at the full 31
    zspans.foreach { case (sx, sy) =>
      assert(sx <= 15 && sy <= 15, s"span ($sx, $sy)")
    }
    val naive = grid.withColumn("bucket",
        org.apache.spark.sql.functions.ntile(16).over(
          org.apache.spark.sql.expressions.Window.orderBy($"x", $"id")))
      .groupBy($"bucket")
      .agg(org.apache.spark.sql.functions.max($"y") -
        org.apache.spark.sql.functions.min($"y"))
      .collect().map(_.getLong(1))
    assert(naive.forall(_ == 31L), "single-key sort: full y width")
  }

  test("layoutReport: per-file rows over a genuinely multi-file " +
       "dataset sum to the table count") {
    import spark.implicits._
    val dir = graft.Scratch.root + "/layout_report"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (1 to 90).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      .repartition(3).write.parquet(dir)
    val rep = graft.functions.Profile.layoutReport(
      spark.read.parquet(dir)).collect()
    assert(rep.length == 3, s"3 files expected: ${rep.toSeq}")
    assert(rep.map(_.getLong(1)).sum == 90L)
    assert(rep.forall(_.getString(0).endsWith(".parquet")))
  }

  test("skewReport: planted hot key dominates, NULL keys form their " +
       "own group, skew factors are exact") {
    import spark.implicits._
    // 20 rows of key 'hot', 1 each of 'a'..'e', 4 NULLs:
    // 7 key groups over 29 rows -> mean ~4.14 rows/key
    val rows = Seq.fill(20)(Some("hot")) ++
      Seq("a", "b", "c", "d", "e").map(Some(_)) ++
      Seq.fill(4)(None)
    val df = rows.toDF("k")
    val rep = graft.rep.Joins.skewReport(df, "k", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    assert(rep.length == 3)
    assert(rep(0) == (("hot", 20L,
      math.rint(20.0 / 29 * 1e6) / 1e6,
      math.rint(20.0 * 7 / 29 * 1e6) / 1e6)), s"got ${rep(0)}")
    assert(rep(1) == (("<NULL>", 4L,
      math.rint(4.0 / 29 * 1e6) / 1e6,
      math.rint(4.0 * 7 / 29 * 1e6) / 1e6)), s"got ${rep(1)}")
    // the third row is one of the singleton keys (tie broken by name)
    assert(rep(2)._1 == "a" && rep(2)._2 == 1L)
    // plan: top-k never global-sorts
    val p = graft.rep.Joins.skewReport(df, "k", topK = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }
}
