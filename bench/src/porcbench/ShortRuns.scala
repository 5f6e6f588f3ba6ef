package porcbench

import java.nio.file.Paths

import org.apache.spark.sql.Row

import scala.collection.mutable
import scala.util.Random

/** `short_runs`: a closed loop of short requests — sampled
  * `SparkEntry.queries`, memo-cached `orders_report` runs,
  * `user_analysis` over a `User-{userId}.json` fan-out and
  * `radon_summary` over a `radon.csv`. */
object ShortRuns {
  /** One query per family stratum of the operator inventory. */
  val strata: Seq[(String, String)] = Seq(
    "relational/aggregate" -> "q01_agg",
    "relational/join" -> "q05_join_shuffle",
    "relational/events" -> "q16_events_hourly",
    "llm/text" -> "llm_token_stats")
  val users = 8
  val radonRows = 3000
  /** Distinct `minPrice` values the `orders_report` runs take in turn. */
  val prices = 2

  def apply(r: Run): Unit = {
    val spark = r.spark
    val queries = graft.SparkEntry.queries
    val oracleSql = graft.SparkEntry.oracleSql
    r.prop("query_sample", strata.map { case (s, q) => s"$s=$q" }.mkString(","))
    r.prop("users", users)
    r.prop("radon_rows", radonRows)
    r.prop("memo_hit_share", "0.5 of orders_report runs")
    r.prop("min_price_set_size", prices)

    var dir = ""
    val genMs = Setup.repeat(r) { rep =>
      dir = s"${r.work}/inputs/rep$rep"
      Gen.starSchema(spark, r.seed, s"$dir/sf")
      Gen.users(r.seed, Paths.get(s"$dir/Inputs"), users)
      Gen.radon(r.seed, Paths.get(s"$dir/radon.csv"), radonRows)
    }
    val sf = s"$dir/sf"
    val memo = s"${r.work}/memo"
    val out = s"${r.work}/out"
    val ordersSpec = Pipelines.writeSpec(s"$dir/orders.yaml",
      s"""data: {minPrice: 0}
         |cache: $memo
         |locations:
         |  /orders: $sf/orders.parquet
         |  /Outputs/report: $out/report.parquet
         |""".stripMargin)
    val usersSpec = Pipelines.writeSpec(s"$dir/users.yaml",
      s"""data: {users: "0..${users - 1}"}
         |locations:
         |  /: $dir
         |  /Inputs/User: "_-{userId}.json"
         |  /Outputs/Analysis: "_-{userId}.json"
         |""".stripMargin)
    val radonSpec = Pipelines.writeSpec(s"$dir/radon.yaml",
      s"""data: {nsamples: 2000}
         |locations:
         |  /data/radon: $dir/radon.csv
         |""".stripMargin)
    r.oracleDir = sf

    val firstHash = mutable.HashMap[String, String]()
    val missHash = mutable.HashMap[Double, String]()
    var rowsWritten = 0L
    var bytesWritten = 0L
    var filesWritten = 0L
    var ordersRuns = 0
    // memo entries (top-level names under the memo root) that each
    // price's latest miss published, and the window's memo figures
    val memoOf = mutable.HashMap[Double, Set[String]]()
    var missesPublished = 0
    var entriesWritten = 0L
    var memoBytes = 0L
    def entries(snap: Map[String, (Long, Long)]): Set[String] =
      snap.keys.map(p => Paths.get(memo).relativize(Paths.get(p)).getName(0)
        .toString).toSet

    def sameAsFirst(key: String, h: String): Seq[String] = {
      val f = firstHash.getOrElseUpdate(key, h)
      r.check(f == h, s"$key: output hash $h differs from its first run's $f")
    }
    def written(opDir: String): Unit = {
      val (f, b) = Fs.added(Map.empty, Fs.snapshot(Seq(opDir)))
      filesWritten += f; bytesWritten += b
    }
    def pipeline(kind: String, name: String)(f: => Unit): Unit =
      r.timed("short") {
        r.timed(kind) { r.tr.span("op") { r.tr.span(name) { f } } }
      }

    def query(name: String): Unit = r.attempt(s"query $name") {
      val rows = r.timed("short") {
        r.timed(name) { r.tr.span("op") {
          val df = r.tr.span("queries.build") { queries(name)(spark, sf) }
          r.tr.span("queries.exec") { df.collect() }
        } }
      }
      if (name.startsWith("q") && !r.oracle.contains(name)) {
        val dst = s"${r.work}/oracle/$name"
        val df = queries(name)(spark, sf)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dst)
        r.oracle(name) = (oracleSql(name), dst)
      }
      sameAsFirst(s"query $name", Stats.hashRows(rows.toSeq))
    }

    def orders(i: Int, minPrice: Double, hit: Boolean): Unit =
      r.attempt(s"orders_report minPrice=$minPrice") {
        // a miss on a price seen before: drop what its last miss published
        if (!hit) memoOf.remove(minPrice).foreach(_.foreach(e =>
          Fs.deleteTree(s"$memo/$e")))
        val before = Fs.snapshot(Seq(memo))
        val sink = s"$out/report-$i.parquet"
        pipeline(if (hit) "orders_report.hit" else "orders_report.miss",
            "orders_report") {
          Pipelines.run(r, "orders_report", ordersSpec,
            Seq("-o", s"minPrice=$minPrice", "--loc", s"/Outputs/report=$sink"))
        }
        ordersRuns += 1
        val after = Fs.snapshot(Seq(memo))
        val (mf, mb) = Fs.added(before, after)
        filesWritten += mf; bytesWritten += mb; memoBytes += mb
        val published = entries(after) -- entries(before)
        entriesWritten += published.size
        if (published.nonEmpty) missesPublished += 1
        if (!hit) memoOf(minPrice) = published
        written(sink)
        val rows = spark.read.parquet(sink).collect()
        rowsWritten += rows.length
        Fs.deleteTree(sink)
        val h = Stats.hashRows(rows.toSeq)
        val errs = r.check(rows.nonEmpty, s"orders_report $i wrote no rows") ++
          (if (hit) r.check(missHash.get(minPrice).contains(h),
            s"orders_report minPrice=$minPrice: memo hit differs from the miss")
           else r.check(mf > 0, s"orders_report minPrice=$minPrice: " +
             "a miss published no memo entry"))
        if (!hit) missHash(minPrice) = h
        errs
      }

    def userAnalysis(i: Int): Unit = r.attempt(s"user_analysis $i") {
      val opDir = s"$out/users-$i"
      pipeline("user_analysis", "user_analysis") {
        Pipelines.run(r, "user_analysis", usersSpec,
          Seq("--loc", s"/Outputs/Analysis=$opDir/Analysis-{userId}.json"))
      }
      written(opDir)
      val rows = spark.read.json(s"$opDir/*").collect()
      rowsWritten += rows.length
      Fs.deleteTree(opDir)
      r.check(rows.nonEmpty, "user_analysis wrote no rows") ++
        sameAsFirst("user_analysis", Stats.hashRows(rows.toSeq))
    }

    def radon(i: Int): Unit = r.attempt(s"radon_summary $i") {
      val opDir = s"$out/radon-$i"
      pipeline("radon_summary", "radon_summary") {
        Pipelines.run(r, "radon_summary", radonSpec, Seq(
          "--loc", s"/debug/radon-filtered=$opDir/radon-filtered.csv",
          "--loc", s"/viz/summary=$opDir/summary.json",
          "--loc", s"/viz/forward=$opDir/forward.json"))
      }
      written(opDir)
      val summary = spark.read.json(s"$opDir/summary.json").collect()
      val forward = spark.read.json(s"$opDir/forward.json").collect()
      val filtered = spark.read.option("header", "true")
        .csv(s"$opDir/radon-filtered.csv").count()
      rowsWritten += summary.length + forward.length + filtered
      Fs.deleteTree(opDir)
      r.check(filtered == radonRows, s"radon debug copy has $filtered rows") ++
        sameAsFirst("radon_summary",
          Stats.hashRows((summary ++ forward).toSeq))
    }

    // minPrice: a small seeded set taken in turn. Each round misses on
    // its price (whose memo entries were dropped), then hits on it, so
    // every hit has a miss to equal, half of the orders_report runs are
    // memo hits, and every round runs the same plans (a fresh literal
    // each round would compile new classes every round)
    val rnd = new Random(r.seed * 61 + 3)
    val priceSet = Iterator.continually(
      (50000 + rnd.nextInt(400000)).toDouble).distinct.take(prices).toVector
    var roundNo = 0
    var opNo = 0
    /** One round: each query stratum, a memo miss and its hit,
      * user_analysis and radon_summary. The order is fixed, so each
      * kind always follows the same kind and a run's seed changes the
      * inputs, not which operation runs in another's wake. */
    def round(): Unit = {
      val price = priceSet(roundNo % prices)
      roundNo += 1
      val q = strata.map(_._2)
      Seq[() => Unit](
        () => query(q(0)), () => orders(opNo, price, hit = false),
        () => query(q(1)), () => userAnalysis(opNo),
        () => query(q(2)), () => orders(opNo, price, hit = true),
        () => query(q(3)), () => radon(opNo))
        .foreach { op => op(); opNo += 1 }
    }

    // two rounds: the first run of every kind is several times slower,
    // and most kinds still run 10-60 % slow in the second
    val warmMs = Setup.time { (1 to r.warmRounds(2)).foreach(_ => round()) }
    r.endWarmup()
    rowsWritten = 0; bytesWritten = 0; filesWritten = 0; ordersRuns = 0
    missesPublished = 0; entriesWritten = 0; memoBytes = 0
    Setup.report(r, genMs, warmMs)

    r.startClock()
    var j = 0
    while (r.nextRound(j, min = 6)) { round(); j += 1 }

    val short = r.lat("short")
    val pipes = Seq("orders_report.miss", "orders_report.hit",
      "user_analysis", "radon_summary")
    val kinds = strata.map(_._2) ++ pipes
    kinds.filter(r.lat(_).nonEmpty)
      .foreach(k => r.prop(s"p50_ms.$k", f"${Stats.median(r.lat(k))}%.1f"))
    Summary.endToEnd(r, kinds.map(r.lat(_)), pipes.map(r.lat(_)),
      short.size, short.sum,
      bytesWritten.toDouble / rowsWritten.max(1))
    r.named("short_p50_ms") = f"${Stats.median(short)}%.2f ms"
    val (tp, tv) = Stats.tail(short)
    r.named("short_tail_ms") = f"$tv%.2f ms (p$tp, n=${short.size})"
    if (r.trace) {
      Summary.traced(r, kinds)
      val L = r.layer
      L("rep.per_index_ms") =
        (Layers.medianMs(r, "user_analysis") / users, "ms")
      L("rep.jobs_per_index") = (Layers.jobsPer(r, "user_analysis") / users, "count")
      L("queries.build_ms") = (Layers.medianMs(r, "queries.build"), "ms")
      L("queries.exec_ms") = (Layers.medianMs(r, "queries.exec"), "ms")
      val qs = r.tr.named("queries.build").size.max(1).toDouble
      L("queries.jobs_per_query") = ((r.tr.named("queries.build") ++
        r.tr.named("queries.exec")).flatMap(r.tr.jobsIn).distinctBy(_.id).size / qs, "count")
      L("queries.driver_gap_ms") = (Stats.median(
        r.tr.named("queries.build").zip(r.tr.named("queries.exec")).map {
          case (b, e) => r.tr.gapMs(b) + r.tr.gapMs(e) }), "ms")
      val nOps = (short.size + r.lat("short", traced = true).size).max(1).toDouble
      L("access.files_written") = (filesWritten / nOps, "count")
      L("access.bytes_written") = (bytesWritten / nOps, "B")
    }
    // cache figures from listing the memo root around each run: a run
    // that published an entry was a miss
    r.layer("cache.hit_ratio") =
      (1.0 - missesPublished.toDouble / ordersRuns.max(1), "ratio")
    r.layer("cache.entries_written") = (entriesWritten.toDouble, "count")
    r.layer("cache.bytes_written") = (memoBytes.toDouble, "B")
    Summary.hygiene(r, Seq(memo, out, graft.Scratch.root))
  }
}
