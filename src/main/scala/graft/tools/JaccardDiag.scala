package graft.tools

import org.apache.spark.sql.functions._

/** One-off diagnostic for the slabbed Jaccard join's 64x step cost:
  * replays slab 0 of an existing `jaccardPairsPrefixSlabbed` scratch
  * layout sub-step by sub-step (candidate join pre-distinct, distinct
  * — each WITH and WITHOUT the PPJoin positional filter, so the
  * filter's candidate cut is measured per regime, not asserted —
  * then the verify joins) with counts, wall times and the physical
  * plan, so the superlinear term can be attributed instead of
  * guessed. Not part of the library surface; run by hand:
  * `graft.tools.JaccardDiag <scratchDir> <slab>`, or first
  * `graft.tools.JaccardDiag --prep <sfDir> <factor> <scratchDir>
  * [slabs]` to build the scratch from the NATURAL (Zipfian,
  * unsalted) copy-scaled sf corpus via the slab operator itself
  * (same id-stride law as ScaleBench.materialize).
  */
object JaccardDiag {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "jaccard-diag")
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("--prep")) {
      val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
      val factor = args.lift(2).map(_.toInt).getOrElse(16)
      val dest = args.lift(3).getOrElse(
        graft.Scratch.root + "/scale/jdiag_nat")
      val slabs = args.lift(4).map(_.toInt).getOrElse(1)
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val stride = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val scaled = (0 until factor).map { i =>
        docs0.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * stride))
      }.reduce(_ unionByName _)
      val pairs = graft.llm.Dedup.jaccardPairsPrefixSlabbed(scaled,
        n = 3, threshold = 0.5, slabs = slabs, scratchDir = dest)
      println(s"[diag] prep: natural ${factor}x corpus from $sfDir " +
        s"-> $dest, verified pairs: ${pairs.count()}")
      spark.stop()
      return
    }
    val dir = args.headOption.getOrElse(
      graft.Scratch.root + "/scale/jslab_64")
    val slab = args.lift(1).map(_.toInt).getOrElse(0)
    val threshold = 0.5
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[diag] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      a
    }
    val withSh = spark.read.parquet(s"$dir/shingles")
    val pref = spark.read.parquet(s"$dir/prefix")
    println(s"[diag] shingle rows: ${withSh.count()}")
    println(s"[diag] prefix rows total: ${pref.count()}")
    val p = pref.filter(col("slab") === slab)
      .select(col("s"), col("id"), col("sz"), col("rk"))
    println(s"[diag] slab $slab prefix rows: ${p.count()}")
    val alphaD = lit(threshold / (1.0 + threshold)) *
      (col("sz_a") + col("sz_b")).cast("double")
    // candidate generation with the PPJoin positional filter ON and
    // OFF: the delta IS the filter's measured cut in this regime
    // (the r17 69M->33M figure was the salted copy-scaled corpus,
    // where prefix filtering is defeated by construction; --prep
    // builds the natural Zipfian regime this was asserted for)
    def candidates(positional: Boolean) = {
      val base = p.select(col("s"), col("id").as("id_a"),
          col("sz").as("sz_a"), col("rk").as("rk_a"))
        .join(p.select(col("s"), col("id").as("id_b"),
          col("sz").as("sz_b"), col("rk").as("rk_b")), Seq("s"))
        .filter(col("id_a") < col("id_b") &&
          col("sz_a").cast("double") >=
            lit(threshold) * col("sz_b").cast("double") - lit(1e-9) &&
          col("sz_b").cast("double") >=
            lit(threshold) * col("sz_a").cast("double") - lit(1e-9))
      (if (positional)
        base.filter((lit(1) + least(col("sz_a") - col("rk_a"),
          col("sz_b") - col("rk_b"))).cast("double") >=
          ceil(alphaD - lit(1e-9)))
      else base)
        .select(col("id_a"), col("id_b"))
    }
    val candNoPos = candidates(positional = false)
    val nRawNoPos = timed("candidates pre-distinct, NO positional")(
      candNoPos.count())
    println(s"[diag] candidates pre-distinct WITHOUT positional: $nRawNoPos")
    val nCandNoPos = timed("candidates distinct, NO positional")(
      candNoPos.distinct().count())
    println(s"[diag] candidates distinct WITHOUT positional: $nCandNoPos")
    val candRaw = candidates(positional = true)
    val nRaw = timed("candidate join pre-distinct count")(candRaw.count())
    println(s"[diag] candidates pre-distinct: $nRaw")
    val cand = candRaw.distinct()
    val nCand = timed("candidate distinct count")(cand.count())
    println(s"[diag] candidates distinct: $nCand")
    println(f"[diag] positional filter cut: pre-distinct " +
      f"$nRawNoPos -> $nRaw (${100.0 * (nRawNoPos - nRaw) /
        math.max(1L, nRawNoPos)}%.1f%% pruned), distinct " +
      f"$nCandNoPos -> $nCand")
    // verify-kernel contrast on the SAME candidate set: the three
    // verify arithmetics that shipped in successive rounds. Scratch
    // shingle arrays are SORTED (shingleHashesSorted — the slab
    // operator's materialization), so the merge kernels read them in
    // place. need = -1 makes the bounded kernel's early exit
    // unreachable (c + rem < -1 never holds) — i.e. the SAME compiled
    // merge WITHOUT the α-bound — so the bounded-vs-unbounded delta
    // isolates exactly what the early exit is worth on this slab.
    // All three counts must agree (the exactness law).
    def verifyWith(tag: String, explainPlan: Boolean)(
        mk: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => (org.apache.spark.sql.Column,
              org.apache.spark.sql.Column)): Long = {
      val (nInter, nUnion) = mk(col("sh_a"), col("sh_b"))
      val verified = cand
        .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")),
          Seq("id_a"))
        .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")),
          Seq("id_b"))
        .withColumn("n_inter", nInter)
        .withColumn("n_union", nUnion)
        .withColumn("jaccard", col("n_inter") / col("n_union"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"))
      val nVer = timed(s"verify join count [$tag]")(verified.count())
      println(s"[diag] verified pairs (slab $slab) [$tag]: $nVer")
      if (explainPlan) verified.explain("formatted")
      nVer
    }
    // variant list (3rd arg, csv, default all; repeats allowed) —
    // order matters for JIT/ambient attribution, so expose it
    val variants = args.lift(2)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("builtin", "unbounded", "bounded"))
    val counts = variants.map {
      case "builtin" =>
        verifyWith("builtin array_intersect/union", false) {
          (a, b) => (size(array_intersect(a, b)).cast("double"),
            size(array_union(a, b)).cast("double"))
        }
      case "unbounded" =>
        verifyWith("sorted merge, NO bound", false) { (a, b) =>
          val inter = graft.functions.SketchExprs
            .setOverlapBounded(a, b, lit(-1.0)).cast("double")
          (inter, (size(a) + size(b)).cast("double") - inter)
        }
      case "bounded" =>
        verifyWith("sorted merge, alpha-bounded", false) { (a, b) =>
          val inter = graft.functions.SketchExprs.setOverlapBounded(a, b,
            lit(threshold / (1.0 + threshold)) *
              (size(a) + size(b)).cast("double") - lit(1e-9))
            .cast("double")
          (inter, (size(a) + size(b)).cast("double") - inter)
        }
      case v => sys.error(s"unknown verify variant: $v")
    }
    require(counts.distinct.size <= 1,
      s"verify kernels disagree: ${variants.zip(counts)}")
    spark.stop()
  }
}
