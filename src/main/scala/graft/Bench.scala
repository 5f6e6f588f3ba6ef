package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Headline set = every query except the explicitly-labelled O(N²)
  * brute-force baselines (llm_jaccard_pairs / llm_embedding_pairs).
  * Those exist as correctness ground truth for the sketch operators
  * and run in Verify at sf0.01; benchmarking them at larger SF would
  * measure the wrong plan on purpose — the sketch/LSH scale paths ARE
  * benchmarked.
  *
  * AMBIENT-NOISE IMMUNITY: the N repetitions run as N FULL-SUITE
  * PASSES in different orders (pass 1 alphabetical, pass 2 ROTATED
  * reversal, pass k≥3 fixed-seed shuffled), and `queries_min` is the
  * per-query min across passes. Rationale: two driver rounds in a row
  * were dominated by ONE contiguous host-noise window (r17's g–l
  * block, r18's entire relational tail at 45× on unchanged plans).
  * With consecutive same-query reps, all reps of a query share the
  * window and the min does not defend; with two passes in different
  * orders, a single contiguous window cannot cover the same query in
  * both passes unless it spans most of the run — so the min column
  * stays clean. Pass 2 is the reversed order ROTATED to start from
  * the alphabet midpoint: a plain reversal leaves alphabetically-late
  * queries 60–70 s apart across the pass-1/pass-2 boundary in BOTH
  * orders, so one window straddling the boundary could cover such a
  * query twice (exactly what happened to llm_winnow in the r19 driver
  * artifact). With the rotation, a query at the end of pass 1 sits in
  * the MIDDLE of pass 2 — no query is boundary-adjacent in both
  * passes. `start_offsets` / `start_offsets_p2` record where each
  * query sat in run wall-clock per pass, and `queries_p2` carries the
  * pass-2 values directly, so any remaining inflation is attributable
  * from the artifact alone without inferring the other pass by
  * subtraction.
  *
  * BANDS SELF-CHECK: if `bands.json` (override via SPARK_GRAFT_BANDS)
  * is present — per-query expected min from a quiet builder gate,
  * plus tolerance factor/floor — the artifact carries an `outliers`
  * map (queries whose min exceeds band×factor+floor) and the summary
  * line carries `n_outliers`, so a driver artifact self-flags the
  * rows that need an isolated re-measure instead of leaving the
  * judge to diff against BASELINE prose. Two r20 additions make the
  * flags decidable from the artifact alone:
  *  - RUN-LEVEL NORMALIZATION: `band_scale` = the run's median
  *    min/band ratio over in-band queries with a band ≥ 0.2 s (the
  *    r19 driver host sat a uniform ~1.15× above the builder bands
  *    with a 1.6–2× tail — a box factor, not per-query drift).
  *    `outliers_norm` re-applies the check with the band scaled by
  *    that factor (clamped ≥ 1, so a faster box never flags MORE):
  *    a query outside even the normalized band has drifted relative
  *    to its own run, not just relative to the builder's box.
  *  - OUTLIER RECHECK: each flagged query is re-run ONCE in
  *    isolation at run end (`outliers_recheck`), and
  *    `n_outliers_confirmed` counts the rechecks still above band —
  *    an ambient-window flag rechecks clean; a real regression
  *    rechecks high. The recheck never touches `queries_min` (the
  *    measured passes stay the record); it is the attribution.
  *
  * Env knobs: SPARK_GRAFT_ONLY=q1,q2 restricts the set (local
  * debugging); SPARK_GRAFT_CPUS sets local parallelism;
  * SPARK_GRAFT_BENCH_N=k sets the pass count (default 2); set k=1
  * for the historical single-shot-only protocol (no min column).
  */
object Bench {
  /** O(N²)-by-design ground-truth baselines, excluded from the bench. */
  val bruteForceBaselines: Set[String] =
    Set("llm_jaccard_pairs", "llm_embedding_pairs")

  /** Per-query expected-min bands (quiet-gate mins + tolerance). */
  final case class Bands(factor: Double, floor: Double,
                         bands: Map[String, Double])

  /** Read bands.json; absent/corrupt file = no check (never fatal). */
  def loadBands(path: String =
      sys.env.getOrElse("SPARK_GRAFT_BANDS", "bands.json"))
      : Option[Bands] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(f)) None
    else try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readAllBytes(f))
      val factor = Option(root.get("tolerance_factor"))
        .map(_.asDouble).getOrElse(2.0)
      val floor = Option(root.get("tolerance_floor_sec"))
        .map(_.asDouble).getOrElse(0.75)
      val m = scala.collection.mutable.Map[String, Double]()
      Option(root.get("bands")).foreach { b =>
        val it = b.fields()
        while (it.hasNext) {
          val e = it.next(); m(e.getKey) = e.getValue.asDouble
        }
      }
      Some(Bands(factor, floor, m.toMap))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bands.json unreadable: ${e.getMessage}")
      None
    }
  }

  /** One query's measurements: per-pass (seconds, ok, start offset). */
  private final case class QRes(name: String,
                                reps: Vector[(Double, Boolean, Double)]) {
    def singleShot: Double = reps.head._1
    def min: Option[Double] = reps.filter(_._2).map(_._1).minOption
    def allOk: Boolean = reps.forall(_._2)
    def off(pass: Int): Option[Double] = reps.lift(pass - 1).map(_._3)
    def at(pass: Int): Option[Double] =
      reps.lift(pass - 1).filter(_._2).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Graft.builder = the engine's recommended conf (AQE incl. cached
    // plans, UTC session timezone, nanos timestamps) — hand-rolling the
    // block here once drifted out of sync with the verified sessions
    val spark = Graft.builder(cpus.toInt, "graft-bench")
      .config("spark.ui.enabled", "false")
      // production hash family: XXH64 sketch kernels (the bench
      // measures the plans a deployment runs; Verify separately runs
      // the same plans under the MD5 oracle-verification family)
      .config(graft.functions.SketchOps.FamilyKey, "xx")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.fold(!bruteForceBaselines(n))(_(n)) }
      .toSeq.sortBy(_._1)
    // warmup: JVM/codegen/parquet-footer costs land here, not on the
    // first measured query. Beyond the scan, run the selected query
    // set once at the smallest scale factor (identical plan shapes →
    // whole-stage codegen compiled, kernels JIT'd, shuffle machinery
    // up; 100x less data → seconds). Without this the alphabetically
    // first sketch query absorbs ~3s of one-time cost that is not its
    // own.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val warmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
    if (java.nio.file.Files.isDirectory(warmDir) &&
        warmDir.toString != sfDir) {
      selected.foreach { case (_, fn) =>
        try { fn(spark, warmDir.toString).count(); () }
        catch { case _: Throwable => () }
        // the unmanaged shorthands pin shared intermediates per call
        // (signatures, LSH buckets, split parents); release each
        // query's pins immediately so no query is measured against
        // another query's storage debt — exactly the accumulated-
        // artifact drag BENCH_r06 measured on the q09–q13 block
        graft.cache.Pins.release(spark)
      }
    }
    val benchN = sys.env.get("SPARK_GRAFT_BENCH_N")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    // pass orders: alphabetical, rotated reversal, then fixed-seed
    // shuffles — deterministic (resumable/reproducible), and no two
    // passes put the same query at the same point of the run, which
    // is what makes the min column immune to one contiguous noise
    // window. The pass-2 rotation (reversed order, started from the
    // alphabet midpoint) closes the one window shape a plain
    // reversal still admitted: under N=2 an alphabetically-LATE
    // query sits at the end of pass 1 and the start of pass 2, only
    // 60–70 s apart in wall-clock, so a window straddling the
    // boundary covers it twice (r19: llm_winnow, offsets 647.6 →
    // 713.7). Rotated, the end of pass 1 lands mid-pass-2.
    def orderFor(p: Int): Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = p match {
      case 1 => selected
      case 2 =>
        val rev = selected.reverse
        val mid = rev.size / 2
        rev.drop(mid) ++ rev.take(mid)
      case k => new scala.util.Random(k.toLong * 7919L).shuffle(selected)
    }
    def orderName(p: Int): String = p match {
      case 1 => "alpha"
      case 2 => "reversed-rotated"
      case k => s"shuffled-$k"
    }
    // wall-clock origin of the measured loop: each (query, pass)
    // records its START OFFSET within the run, so an ambient noise
    // window — contiguous inflated rows in one stretch of a pass —
    // is visible in the artifact itself without an isolated re-measure
    val runStart = System.nanoTime()
    val acc = scala.collection.mutable.LinkedHashMap[String,
      Vector[(Double, Boolean, Double)]]()
    selected.foreach { case (n, _) => acc(n) = Vector.empty }
    (1 to benchN).foreach { pass =>
      orderFor(pass).foreach { case (name, fn) =>
        val startOff = (System.nanoTime() - runStart) / 1e9
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name%-24s $dt%8.2fs" +
          (if (benchN > 1) s"  (pass $pass)" else "") +
          (if (ok) "" else "  FAILED"))
        // release OUTSIDE the timed window: the pin release is session
        // hygiene between queries, not part of any query's cost
        graft.cache.Pins.release(spark)
        acc(name) = acc(name) :+ ((dt, ok, startOff))
      }
    }
    val results = acc.iterator.map { case (n, reps) => QRes(n, reps) }.toSeq
    // storage-footprint assertion: with every pin released, nothing
    // may remain in executor storage — a non-empty map here means some
    // operator persisted outside the Managed/Pins discipline and the
    // run is flagged (stderr; the JSON stays parseable)
    val leaked = spark.sparkContext.getPersistentRDDs
    if (leaked.nonEmpty)
      System.err.println(s"[bench] WARNING: ${leaked.size} persisted " +
        s"RDDs remain after release: " +
        leaked.values.map(_.name).mkString(", "))
    // a failed query's time-to-failure must NOT masquerade as a
    // result: only successes are timed and totaled; failures are
    // listed separately so the run is visibly broken
    val good = results.filter(_.allOk)
    val failed = results.filterNot(_.allOk).map(_.name)
    // millisecond precision: sub-ms digits are pure noise.
    // Locale.ROOT: a comma-decimal default locale would emit 0,123
    // and break the JSON
    def sec(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // single-shot = pass-1 time (the historical alphabetical protocol)
    val qs = good.map(r => s"\"" + r.name + "\":" + sec(r.singleShot))
      .mkString("{", ",", "}")
    val qsMin =
      if (benchN <= 1) ""
      else good.flatMap(r => r.min.map(v => s"\"" + r.name + "\":" + sec(v)))
        .mkString(""","queries_min":{""", ",", "}")
    // per-pass-2 values, verbatim: the r19 winnow diagnosis needed to
    // know whether the min came from pass 1 or pass 2 and the artifact
    // only let a reader infer it by subtraction — emit the column.
    val qsP2 =
      if (benchN < 2) ""
      else good.flatMap(r => r.at(2).map(v => s"\"" + r.name + "\":" + sec(v)))
        .mkString(""","queries_p2":{""", ",", "}")
    // the failed list must stay bounded too — a catastrophic run with
    // 100 failures would otherwise blow the summary line off the tail
    val fsShown = failed.take(20)
    val fs = fsShown.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (good.nonEmpty) good.map(_.singleShot).sum else 0.0
    // per-query wall-clock start offsets within the run (ALL benched
    // queries, failures included): lets a reader see exactly where in
    // the sweep a noise window sat, from the artifact alone. p1 =
    // alphabetical pass (the historical column), p2 = the reversed
    // pass — together they localize a window in BOTH orders.
    def offMap(pass: Int) = results.flatMap(r =>
      r.off(pass).map(o => s"\"" + r.name + "\":" + sec(o)))
      .mkString("{", ",", "}")
    val offs = offMap(1)
    val offs2 = if (benchN >= 2) s""","start_offsets_p2":${offMap(2)}"""
                else ""
    val passOrders = (1 to benchN).map(p => "\"" + orderName(p) + "\"")
      .mkString("[", ",", "]")
    // bands self-check: min > band×factor+floor → outlier. The floor
    // absorbs absolute jitter on sub-second queries (a 0.1 s band must
    // not flag a 0.3 s ambient wobble); the factor catches real
    // regressions on the expensive rows.
    val bandsOpt = loadBands()
    val outliers: Seq[(String, Double, Double)] = bandsOpt match {
      case None => Seq.empty
      case Some(b) => good.flatMap { r =>
        for { m <- r.min.orElse(Some(r.singleShot))
              band <- b.bands.get(r.name)
              if m > band * b.factor + b.floor }
          yield (r.name, m, band)
      }
    }
    val nUnbanded = bandsOpt.fold(-1)(b =>
      good.count(r => !b.bands.contains(r.name)))
    // run-level band normalization: the median min/band ratio of the
    // IN-BAND queries estimates the host's uniform speed factor vs the
    // builder's quiet gate (r19 driver: ~1.15× with a 1.6–2.0× tail).
    // Only bands ≥ 0.2 s vote — a 0.05 s band's ratio is absolute
    // jitter, not box speed. Clamped ≥ 1 so a FASTER box never flags
    // more than the raw check; a normalized outlier has drifted
    // relative to its own run, not just relative to the builder box.
    val bandScale: Double = bandsOpt.fold(1.0) { b =>
      val flagged = outliers.map(_._1).toSet
      val ratios = good.flatMap { r =>
        for { m <- r.min.orElse(Some(r.singleShot))
              band <- b.bands.get(r.name)
              if band >= 0.2 && !flagged(r.name) }
          yield m / band
      }.sorted
      if (ratios.size < 5) 1.0
      else math.max(1.0, ratios(ratios.size / 2))
    }
    val outliersNorm: Seq[(String, Double, Double)] = bandsOpt match {
      case None => Seq.empty
      case Some(b) =>
        outliers.filter { case (_, m, band) =>
          m > band * bandScale * b.factor + b.floor }
    }
    // isolated recheck of every flagged query (bounded): the measured
    // passes stay the record — this is the attribution column. An
    // ambient-window flag rechecks clean; a plan regression rechecks
    // high. Runs warm (the query already ran ≥2×), pins released
    // around it like any bench rep.
    val recheck: Seq[(String, Double, Double)] =
      outliers.take(5).flatMap { case (n, _, band) =>
        selected.find(_._1 == n).map { case (_, fn) =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
                   catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          graft.cache.Pins.release(spark)
          System.err.println(f"[bench] $n%-24s $dt%8.2fs  (recheck)")
          (n, if (ok) dt else -1.0, band)
        }
      }
    val nConfirmed = bandsOpt.fold(0)(b => recheck.count {
      case (_, t, band) => t < 0 || t > band * b.factor + b.floor })
    val outliersJson = outliers.take(20).map { case (n, m, band) =>
      s"\"" + n + "\":[" + sec(m) + "," + sec(band) + "]"
    }.mkString("{", ",", "}")
    val outliersNormJson = outliersNorm.take(20).map { case (n, m, band) =>
      s"\"" + n + "\":[" + sec(m) + "," + sec(band) + "]"
    }.mkString("{", ",", "}")
    val recheckJson = recheck.map { case (n, t, _) =>
      s"\"" + n + "\":" + sec(t)
    }.mkString("{", ",", "}")
    val bandsTail = bandsOpt match {
      case None => s""","bands_checked":false"""
      case Some(_) =>
        s""","bands_checked":true,"band_scale":${sec(bandScale)},"n_outliers":${outliers.size},"n_outliers_norm":${outliersNorm.size},"n_outliers_confirmed":$nConfirmed,"n_unbanded":$nUnbanded,"outliers":$outliersJson,"outliers_norm":$outliersNormJson,"outliers_recheck":$recheckJson"""
    }
    val full = s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${good.size},"n_failed":${failed.size},"failed":$fs,"sf":"$sfDir","pass_orders":$passOrders,"queries":$qs$qsMin$qsP2,"start_offsets":$offs$offs2$bandsTail}"""
    // The driver captures a bounded stdout TAIL (~2.9 KB, which also
    // holds sbt's ~80-byte epilogue). At ~100 queries the full record
    // alone overflows it, clipping its HEAD mid-map — BENCH_r06 and
    // BENCH_r07 both came back parsed=null that way. So: the full
    // record goes FIRST (humans + sidecar file for tooling), and the
    // LAST line printed is a compact, size-bounded summary (~200 B)
    // that is always intact inside the tail window.
    println(full)
    // a SPARK_GRAFT_ONLY debugging run must not clobber the last
    // FULL run's sidecar — the judge reads bench_queries.json for
    // the complete per-query min columns
    val sideName =
      if (only.isDefined) "target/bench_queries_partial.json"
      else "target/bench_queries.json"
    try {
      val side = java.nio.file.Paths.get(sideName)
      java.nio.file.Files.createDirectories(side.getParent)
      java.nio.file.Files.write(side,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    // steady-state evidence travels IN the driver-parseable record:
    // min_sum (the cross-round comparison column BASELINE.md directs
    // to) and the 5 slowest mins, ~170 bytes — still well inside the
    // tail window with the rest of the summary line
    val mins = good.flatMap(r => r.min.map(r.name -> _))
    val minTail =
      if (mins.isEmpty) ""
      else {
        val slow5 = mins.sortBy(-_._2).take(5)
          .map { case (k, v) => "\"" + k + "\":" + sec(v) }
          .mkString("{", ",", "}")
        // per-family min sums (~60 B): even if the driver's tail
        // window clips the per-query maps above, the LAST line still
        // carries an interpretable breakdown per query family
        def famOf(k: String) =
          if (k.startsWith("llm_mm_")) "mm"
          else if (k.startsWith("llm_")) "llm"
          else "rel"
        val fams = mins.groupBy(t => famOf(t._1)).toSeq.sortBy(_._1)
          .map { case (f, vs) =>
            "\"" + f + "\":" + sec(vs.map(_._2).sum) }
          .mkString("{", ",", "}")
        s""","min_sum":${sec(mins.map(_._2).sum)},"family_min_sums":$fams,"slowest_min":$slow5"""
      }
    // the COMPLETE per-query min map, values-only: a name-keyed map
    // of ~230 queries (~6 KB) can never fit the driver's bounded
    // (~2.9 KB) stdout tail, but the bare values aligned with the
    // ALPHABETICALLY SORTED benched-query names (~1.5 KB) can — the
    // names themselves live in the sidecar's queries_min keys, and
    // names_md5 lets any reader prove its name list matches. Printed
    // second-to-last so the compact summary stays the intact LAST
    // line whatever the tail window clips above.
    // the NAME-KEYED min map, chunked into <=1 KB JSON lines (VERDICT
    // r20 #2: PERF's per_query/scaling blocks came back empty two
    // rounds running because the only name-keyed map lived in the
    // sidecar file — the bounded stdout tail now carries at least the
    // final chunks, each self-describing via (i, k, names_md5), and
    // the sidecar remains the complete record). Printed ABOVE the
    // values-only line and the summary so the guaranteed-intact LAST
    // lines stay exactly what they were.
    if (mins.nonEmpty) {
      val sortedMins = mins.sortBy(_._1)
      val namesMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(sortedMins.map(_._1).mkString(",")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      val entries = sortedMins.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      val chunks = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      var curLen = 0
      entries.foreach { e =>
        if (curLen + e.length > 900 && cur.nonEmpty) {
          chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer[String]()
          curLen = 0
        }
        cur += e; curLen += e.length + 1
      }
      if (cur.nonEmpty) chunks += cur.toSeq
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"metric":"queries_min_part","i":$i,"k":${chunks.size},"names_md5":"$namesMd5","q":${c.mkString("{", ",", "}")}}""")
      }
      println(s"""{"metric":"queries_min_sorted","n":${sortedMins.size},"names_md5":"$namesMd5","values":[${sortedMins.map(t => sec(t._2)).mkString(",")}]}""")
    }
    // summary-line outliers: n_outliers always (when bands exist) and
    // the 3 worst name→min pairs — small enough to stay in the intact
    // tail, enough to name what needs an isolated re-measure
    val outSummary = bandsOpt match {
      case None => ""
      case Some(_) =>
        val top3 = outliers.sortBy { case (_, m, band) => -(m / band) }
          .take(3).map { case (n, m, _) => "\"" + n + "\":" + sec(m) }
          .mkString("{", ",", "}")
        s""","band_scale":${sec(bandScale)},"n_outliers":${outliers.size},"n_outliers_norm":${outliersNorm.size},"n_outliers_confirmed":$nConfirmed,"outliers_top":$top3"""
    }
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${good.size},"n_failed":${failed.size},"failed":$fs,"sf":"$sfDir","queries_file":"$sideName"$minTail$outSummary}""")
    spark.stop()
  }
}
