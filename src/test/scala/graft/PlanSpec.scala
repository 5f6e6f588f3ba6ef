package graft

import graft.llm.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that make these
  * operators survive a 100x scale-up are asserted on the actual plans,
  * not just claimed — filter pushdown to the parquet scan, column
  * pruning, broadcast for small dimensions, and shuffle-freedom of the
  * sketch signature stages. */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      graft.Scratch.root + "/plan_warehouse")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter + projection reach the parquet scan (pushdown, pruning)") {
    val q = graft.queries.Relational.queries("q02_project_filter")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: ["), "filters must push to scan")
    assert(plan.contains("GreaterThan(l_quantity"), plan)
    // projection pruning: the scan reads only the needed columns, not
    // the 16-column lineitem schema
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"scan must prune unused columns: $readSchema")
  }

  test("small-dimension join broadcasts (no shuffle of the fact side)") {
    val q = graft.queries.Relational.queries("q04_join_broadcast")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("trending lookup broadcasts the sketch side (no cartesian, " +
       "no sketch-side shuffle); pqEncode is a shuffle-free narrow " +
       "projection") {
    import spark.implicits._
    val counts = Seq(("a", 5L), ("b", 3L)).toDF("token", "batch_cnt")
    val sketch = graft.llm.HeavyHitters.cmsSketch(
      Seq("a", "a", "b").toDF("token"))
    val plan = planOf(graft.llm.HeavyHitters.trendingFromCounts(
      counts, sketch, "token"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val books = graft.llm.Similarity.pqCodebooks(emb, m = 4, k = 16,
      iters = 1)
    val encPlan = planOf(graft.llm.Similarity.pqEncode(emb, books))
    assert(!encPlan.contains("Exchange"),
      s"pqEncode (the patch diff scan's shape) must not shuffle:\n" +
        encPlan.take(1500))
  }

  test("minhash/simhash signature stages are shuffle-free narrow maps") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigPlan = planOf(Dedup.minHashSignatures(docs))
    assert(!sigPlan.contains("Exchange"),
      s"signature stage must not shuffle:\n${sigPlan.take(1500)}")
    val shPlan = planOf(Dedup.simHash(docs))
    assert(!shPlan.contains("Exchange"),
      s"simhash stage must not shuffle:\n${shPlan.take(1500)}")
  }

  test("runtime bloom filter: a selective dim predicate reaches the " +
       "fact scan as might_contain (the 100 TB shuffle-join pruner)") {
    // Spark injects a bloom filter built from the filtered dim side
    // into the fact scan when the join shuffles. The feature is ON by
    // default in our sessions; its size thresholds are tuned for
    // cluster scale, so at test scale we lower them to observe the
    // plan shape the 100 TB run would get for free.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true",
        "runtime bloom filtering must stay enabled by default")
      val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      val dim = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 500000)
      val j = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("q"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"bloom filter must reach the fact side:\n${plan.take(2000)}")
      assert(plan.contains("bloom_filter_agg"),
        s"dim side must build the filter:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("boilerplate + rare-ngram + novelty shuffles partition on " +
       "hashes/ids, never on text or chunk strings") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def exchanges(plan: String): Seq[String] =
      plan.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    def assertNoTextKeys(tag: String, plan: String): Unit = {
      val bad = exchanges(plan).filter(l =>
        l.contains("text#") || l.contains("_c#") || l.contains("_t#"))
      assert(bad.isEmpty,
        s"$tag shuffles must carry hashes, not strings:\n" +
          bad.mkString("\n"))
    }
    assertNoTextKeys("boilerplate",
      planOf(Dedup.stripSourceBoilerplate(docs)))
    assertNoTextKeys("rare_ngrams", planOf(Dedup.rareNgramStats(docs)))
    assertNoTextKeys("novelty", planOf(Dedup.batchNovelty(
      docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 400))))
  }

  test("winnowPrints fingerprinting is a shuffle-free pure scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Dedup.winnowPrints(docs, k = 5, w = 4))
    assert(!plan.contains("Exchange"),
      s"winnow selection must stay row-local:\n${plan.take(1500)}")
  }

  test("corpusDiff join moves hashes and counts, never text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
    val plan = planOf(graft.llm.Dedup.corpusDiff(docs, v2))
    val badLines = plan.linesIterator.filter(l =>
      l.contains("Exchange") && l.contains("text#")).toSeq
    assert(badLines.isEmpty,
      s"diff must project text to hashes before the join:\n" +
        badLines.mkString("\n"))
  }

  test("qualityEnsemble is a shuffle-free single pass (no verdict-" +
       "table joins)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.TextAnalysis.qualityEnsemble(docs))
    assert(!plan.contains("Exchange"),
      s"ensemble gates must fuse into one row-local scan:\n" +
        plan.take(1500))
    assert(!plan.contains("Join"),
      s"ensemble must not join materialized verdict tables:\n" +
        plan.take(1500))
  }

  test("sourceTopicMi: count-table arithmetic joins broadcast; one " +
       "corpus-keyed exchange feeds the joint aggregate") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.llm.Similarity.clearTrainedCache()
    val plan = planOf(graft.llm.Similarity.sourceTopicMi(emb,
      nCells = 4, iters = 1))
    // margins + total are |labels| / |cells| / 1-row relations: they
    // must reach their joins as broadcasts, not shuffles
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    graft.llm.Similarity.clearTrainedCache()
  }

  test("accentFold stays inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(docs.select(
      graft.llm.TextAnalysis.accentFold(col("text")).as("f"))
      .filter(col("f").isNotNull))
    assert(plan.contains("accent_fold"), plan.take(1000))
    assert(plan.contains("* Project") || plan.contains("* Filter"),
      s"accent_fold must not fall out of codegen:\n${plan.take(1000)}")
  }

  test("native sketch expressions stay inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Dedup.simHash(docs))
    // formatted mode marks codegen'd operators with '*': the project
    // containing simhash_text AND the token-count filter must both be
    // inside whole-stage codegen (no CodegenFallback interpretation)
    assert(plan.contains("* Project"), plan.take(1500))
    assert(plan.contains("* Filter"), plan.take(1500))
    assert(plan.contains("simhash_text"), plan.take(1500))
  }

  test("bucketed tables join without any Exchange (co-located join)") {
    import graft.rep.Joins
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse dirs persist — clear both before writing. Resolve the
    // ACTUAL warehouse dir from the live session: under sbt's single
    // JVM, getOrCreate may reuse a session built by an earlier suite,
    // ignoring this builder's warehouse config.
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$warehouse/$t"))
    }
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    Joins.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    Joins.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 8)
    val joined = spark.table("b_lineitem")
      .hint("merge")                                 // force SMJ, not broadcast
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderpriority"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n${plan.take(2500)}")
    assert(plan.contains("Bucketed: true"), plan.take(2500))
  }

  test("salted join equals plain join (skew mitigation is semantics-free)") {
    import graft.rep.Joins
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n")).orderBy("c_mktsegment").collect()
    val salted = Joins.saltedJoin(orders, customer, "o_custkey", 6)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n")).orderBy("c_mktsegment").collect()
    assert(plain.sameElements(salted))
  }

  test("IVF cell assignment is a narrow projection over the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.llm.Similarity.collectCentroids(emb, 8)
    val plan = planOf(graft.llm.Similarity.assignCells(emb, cents))
    assert(!plan.contains("Exchange"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("contamination check broadcasts the benchmark side; the corpus " +
       "side reaches the join without an Exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.Contamination.contaminatedDocs(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), n = 5))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the only Exchanges allowed are the benchmark-side distinct and
    // the final per-doc count agg — never a corpus-side pre-join
    // shuffle: the streamed child of the broadcast join must be the
    // corpus-side Generate (explode) directly, with no Exchange
    // between them.
    val lines = plan.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("BroadcastHashJoin"))
    assert(joinIdx >= 0 && lines(joinIdx + 1).contains("Generate"),
      plan.take(2000))
  }

  test("deterministic split assignment is a shuffle-free narrow map") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(docs.select(col("doc_id"),
      graft.llm.Sampling.splitColumn(col("text"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split")))
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("tokenBudgetSample: window runs only over the boundary bucket " +
       "(no whole-stratum sort)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.Mixing.tokenBudgetSample(docs,
      Map("en" -> 1000L, "es" -> 500L)))
    // the running-sum window must sit ABOVE a filter pinning the single
    // cutoff bucket per stratum (_b = _cut): the giant-stratum hazard is
    // a Window whose partition is the whole stratum
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, "expected the boundary window in the plan")
    val beforeWin = plan.substring(0, winIdx)
    assert(beforeWin.contains("Filter") || plan.contains("(_b"),
      s"window must be fed by the boundary-bucket filter:\n${plan.take(2000)}")
    // the whole-bucket keep branch carries no window at all: exactly ONE
    // Window node in the union plan
    val nWindows = "(?m)^.*\\bWindow\\b".r.findAllIn(plan)
      .size
    assert(nWindows <= 2, // operator row + its detail block in formatted mode
      s"expected a single boundary Window, plan had $nWindows mentions")
  }

  test("kmeans mean stage partially aggregates map-side (two-phase agg)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.llm.Similarity.collectCentroids(emb, 8)
    val mu = graft.llm.Similarity.assignCells(emb, cents)
      .select(col("cell_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("cell_id"), col("d"))
      .agg(sum(col("x").cast("double").cast("decimal(38,12)")).as("s"))
    val plan = planOf(mu)
    // two HashAggregates (partial + final) around one Exchange: the
    // shuffle moves at most nCells*dim rows per upstream partition
    val nAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(nAggs >= 2, plan.take(2000))
  }

  test("chunk frequency agg combines map-side; redaction is shuffle-free") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rPlan = planOf(docs.select(
      graft.llm.TextAnalysis.redactPii(col("text")).as("t")))
    assert(!rPlan.contains("Exchange"),
      s"redaction must be a narrow map:\n${rPlan.take(1500)}")
  }

  test("packSequences windows per bucket, never one global partition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.Mixing.packSequences(docs, seqTokens = 512,
      nBuckets = 8))
    assert(plan.contains("Window"), plan.take(2000))
    // the window's partition spec must be the bucket column — a spec
    // with an empty partitionBy would serialize the whole corpus
    // through one partition
    assert(plan.contains("windowspecdefinition(_b"),
      s"window must partition by bucket:\n${plan.take(2000)}")
  }

  test("vocabulary: two-phase token agg + TakeOrdered top-V (no global sort)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.TextAnalysis.vocabulary(docs, v = 50))
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-V must be a TakeOrdered, not a global Sort+Limit:\n${plan.take(2000)}")
  }

  test("quantized top-k broadcasts queries; corpus side never shuffles " +
       "before scoring") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val plan = planOf(
      graft.llm.Similarity.bruteTopKQuantized(emb, queries, k = 10))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"scoring join must not shuffle the corpus:\n${plan.take(2000)}")
  }

  test("rangeJoin plans a partitionable equi-join, not a nested loop") {
    import spark.implicits._
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val bands = Seq(("a", 0.0, 100000.0), ("b", 100000.0, 500000.0))
      .toDF("band", "lo", "hi")
    // disable auto-broadcast so the plan shows what survives when BOTH
    // sides are too big to broadcast — the regime rangeJoin exists for
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val plan =
      try {
        spark.conf.set(key, "-1")
        planOf(graft.rep.Joins.rangeJoin(orders, bands,
          "o_totalprice", "lo", "hi", 100000.0))
      } finally spark.conf.set(key, prev)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join must not nested-loop:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      plan.take(2000))
  }

  test("asofJoin is one shuffle on the key — no join operator at all") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val l = orders.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val r = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val plan = planOf(graft.rep.Joins.asofJoin(l, r, "o_custkey",
      "o_orderdate", Seq("o_totalprice")))
    assert(!plan.contains("Join"), s"union-window plan:\n${plan.take(2000)}")
    assert(raw"\(\d+\) Exchange".r.findAllIn(plan).size == 1,
      s"exactly one key shuffle:\n${plan.take(2500)}")
  }

  test("sessionize shares one key shuffle across both windows") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val plan = planOf(graft.streaming.Sessionize.sessionize(
      orders, "o_custkey", "o_totalprice", gap = 1000L))
    assert(raw"\(\d+\) Exchange".r.findAllIn(plan).size == 1,
      s"both windows must reuse the (key, ts) sort:\n${plan.take(2500)}")
  }

  test("bloom contamination corpus side is a shuffle-free codegen scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val words = graft.llm.Contamination.bloomWords(
      docs.filter(col("doc_id") % 10 === 0), n = 5)
    val plan = planOf(graft.llm.Contamination.bloomContaminatedDocs(
      docs.filter(col("doc_id") % 10 =!= 0), words, n = 5))
    assert(!plan.contains("Exchange"),
      s"corpus side must not shuffle or join:\n${plan.take(1500)}")
    assert(!plan.contains("Join"), plan.take(1500))
    assert(plan.contains("bloom_hits"), plan.take(1500))
    assert(plan.contains("* Filter") || plan.contains("* Project"),
      s"kernel must stay in whole-stage codegen:\n${plan.take(1500)}")
  }

  test("pqTopK: ADC scoring broadcasts the query LUTs; the corpus side " +
       "is a narrow encode, never a shuffled join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val books = graft.llm.Similarity.pqCodebooks(emb, m = 4, k = 16,
      iters = 1)
    val plan = planOf(
      graft.llm.Similarity.pqTopK(emb, queries, books, k = 10))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"ADC join must broadcast, not shuffle the codes:\n${plan.take(2000)}")
    assert(plan.contains("nearest_cell"),
      s"encode must be the native kernel:\n${plan.take(2000)}")
  }

  test("gopherRepetition is a shuffle-free single-pass scan; the filter " +
       "variant stays in whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.TextAnalysis.gopherRepetition(docs))
    assert(!plan.contains("Exchange"),
      s"per-doc kernel must not shuffle:\n${plan.take(1500)}")
    assert(plan.contains("gopher_stats"), plan.take(1500))
    assert(plan.contains("* Project"),
      s"the kept gate must stay in whole-stage codegen:\n${plan.take(1500)}")
  }

  test("hardNegatives: anchors broadcast, corpus never shuffles for " +
       "scoring") {
    val emb = graft.queries.Star.table(spark, sf, "embeddings")
    val anchors = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"), col("label").as("query_label"))
    val plan = planOf(graft.llm.Similarity.hardNegatives(emb, anchors, 3))
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
    // the only non-broadcast exchange is the final per-query top-k
    assert(raw"\(\d+\) Exchange".r.findAllIn(plan).size == 1,
      s"corpus must not shuffle for scoring:\n${plan.take(2000)}")
  }

  test("chunkDedup: chunk text never rides a shuffle (hash projected " +
       "before both consumers)") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.llm.Dedup.chunkDedup(docs)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // every Exchange input row is (doc_id, _pos, _h) or an aggregate
    // thereof — the exploded chunk string column (_c) must be gone
    // before any exchange
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("_c#"))
    assert(!badExchange, s"chunk text crossed a shuffle:\n${plan.take(2500)}")
  }

  test("slidingChunks is a shuffle-free narrow explode; temperatureSample " +
       "scans without a per-row join") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
    val cplan = planOf(graft.llm.Mixing.slidingChunks(docs))
    assert(!cplan.contains("Exchange"),
      s"chunking must not shuffle:\n${cplan.take(1500)}")
    assert(cplan.contains("Generate"), cplan.take(1500))
    // rate table is a plan literal: the corpus side is scan+filter
    // (the only jobs before it are the tiny source-count aggregate)
    val tplan = planOf(
      graft.llm.Sampling.temperatureSample(docs, alpha = 0.5))
    assert(!tplan.contains("Join"),
      s"keep-rate must be a literal CASE, not a join:\n${tplan.take(1500)}")
    assert(!tplan.contains("Exchange"), tplan.take(1500))
  }

  test("bm25TopK: match join broadcasts the query side; no window " +
       "partitioned by term (stopword postings would skew one window " +
       "partition — df must be an aggregate joined back)") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
    val df = graft.llm.TextAnalysis.bm25TopK(
      docs.filter(col("doc_id") % 100 =!= 0),
      docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("text")),
      k = 5)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query-side match join must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"postings must not self-join:\n${plan.take(2000)}")
    // the only windows allowed are per-query top-k ranks; a window
    // whose partition spec is the term column is the skew hazard
    val termWindow = plan.linesIterator.exists(l =>
      l.contains("Window") && l.matches(""".*\]\s*,\s*\[term#\d+\].*"""))
    assert(!termWindow,
      s"df must not come from a term-partitioned window:\n${plan.take(2500)}")
    // the per-query rank<=k must execute TWO-PHASE: Catalyst's
    // InferWindowGroupLimit puts a `WindowGroupLimit ... Partial` on
    // the MAP side (below the query_id exchange), so each map
    // partition ships at most k rows per query and the reduce
    // partition holds <= k x numMapPartitions rows, never a query's
    // whole scored corpus. If this gate breaks (threshold conf, a
    // rank expression the rule can't match), the skew-safe fallback
    // is a hand-salted two-phase rank — see bm25Core's top-k comment.
    val lines = plan.linesIterator.toSeq
    // the rank exchange partitions by query_id ALONE (the (query_id,
    // term) exchange belongs to the query-side distinct, not the rank)
    val rankExchange = lines.indexWhere(
      _.matches(""".*Exchange hashpartitioning\(query_id#\d+L?, \d+\).*"""))
    assert(rankExchange >= 0,
      s"per-query rank exchange missing:\n${plan.take(2500)}")
    val below = lines.drop(rankExchange + 1)
      .takeWhile(!_.contains("Exchange hashpartitioning"))
    assert(below.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      "WindowGroupLimit Partial must sit BELOW the rank exchange " +
        s"(map side):\n${below.mkString("\n")}")
  }

  test("q27/q28 plans: RANGE window stays per-user (no global sort " +
       "before it); grouping sets expand once, aggregate once") {
    val dir = sf
    // events.parquet carries TIMESTAMP(NANOS) — same conf Verify/Bench
    // sessions set globally
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val q27 = graft.queries.Relational.queries("q27_rolling_range")(
      spark, dir)
    q27.collect()
    val p27 = q27.queryExecution.executedPlan.toString
    // the rolling frame must be a RANGE spec over the user partition —
    // a ROWS rewrite or a missing partition key would change semantics
    assert(p27.contains("specifiedwindowframe(RangeFrame"),
      p27.take(2000))
    assert(p27.linesIterator.exists(l =>
      l.contains("Window") && l.contains("user_id#")), p27.take(2000))
    val q28 = graft.queries.Relational.queries("q28_grouping_sets")(
      spark, dir)
    q28.collect()
    // AQE prints the final plan followed by the initial plan — count
    // within the final section only
    val p28 = q28.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // all three grouping levels ride ONE expand + one aggregation
    // pipeline — k aggregates unioned would show k Expands/scans
    assert(p28.linesIterator.count(_.contains("Expand")) == 1,
      p28.take(2000))
    graft.cache.Pins.release(spark)
  }

  test("jsDrift: postings-shaped plan — no window anywhere, no " +
       "vocab×sources cross join (absent mass via the closed form)") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
    val df = graft.llm.TextAnalysis.jsDrift(docs)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    // the only nested-loop join allowed is the 1-row grand-total
    // broadcast; a vocab×sources expansion would appear as a join with
    // no equi-condition on a multi-row side
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the corpus explode materializes ONCE: every consumer of the
    // (source, token) table reads the pinned relation (each
    // InMemoryTableScan line is a reuse; the Generate lives only
    // inside the cached plan it prints)
    assert(plan.contains("InMemoryTableScan"),
      s"the (source, token) table must be pinned:\n${plan.take(2500)}")
    val cacheReads =
      plan.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cacheReads >= 2,
      s"expected multiple consumers of the pinned table, got $cacheReads")
    graft.cache.Pins.release(spark)
  }

  test("substringDupSpans: window grams hash scan-side — no token " +
       "array or text on any shuffle") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val df = Dedup.substringDupSpans(docs, l = 8)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("_tk#") || l.contains("text#")))
    assert(!badExchange,
      s"token array/text crossed a shuffle:\n${plan.take(2500)}")
  }

  private def noTextOnExchanges(plan: String, cols: String*): Unit = {
    val bad = plan.linesIterator.filter(l =>
      l.contains("Exchange") && cols.exists(c => l.contains(c + "#")))
    assert(bad.isEmpty,
      s"wide column crossed a shuffle:\n${bad.mkString("\n")}")
  }

  test("round-8 ops: text/embeddings never ride a shuffle; models and " +
       "moment tables broadcast") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // sourceOverlap: shingles leave the scan as 60-bit hashes
    val so = Dedup.sourceOverlap(docs, n = 3)
    so.collect()
    noTextOnExchanges(so.queryExecution.executedPlan.toString, "text")
    // qualitySignals: exchanges carry (id, term) rows only
    val qs = graft.llm.TextAnalysis.qualitySignals(docs)
    qs.collect()
    noTextOnExchanges(qs.queryExecution.executedPlan.toString, "text")
    // nbLangId: the SPARSE seen-pair model stays relational — the
    // only driver-materialized relation in the plan is the |labels|-
    // row constants table (no `token` column = no dense vocab x
    // labels cross-product); doc text stays scan-side
    val nb = graft.llm.TextAnalysis.nbLangIdConfusion(docs)
    nb.collect()
    val nbPlan = nb.queryExecution.executedPlan.toString
    noTextOnExchanges(nbPlan, "text")
    assert(nbPlan.contains("BroadcastHashJoin"), nbPlan.take(2000))
    assert(!nbPlan.linesIterator.exists(l =>
        l.contains("LocalTableScan") && l.contains("token")),
      "NB model (token-level) must not materialize on the driver:\n" +
        nbPlan.take(2000))
    // embedOutliers: vectors are dropped before the cell aggregate;
    // the per-cell moment table comes back as a broadcast
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.llm.Similarity.kmeansCentroids(emb, nCells = 16,
      iters = 1)
    val eo = graft.llm.Similarity.embedOutliers(emb, cents)
    eo.collect()
    val eoPlan = eo.queryExecution.executedPlan.toString
    noTextOnExchanges(eoPlan, "embedding")
    assert(eoPlan.contains("BroadcastHashJoin"), eoPlan.take(2000))
  }

  test("round-10 ops: verified pairs attach text AFTER the candidate " +
       "distinct; KN model relations shuffle tokens only") {
    val docs = graft.queries.Star.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // verifiedNearDupPairs: the band self-join and pair-distinct
    // exchanges carry (band, hash, id) — text joins in by id for the
    // bounded candidate set only (broadcast at this volume), so no
    // exchange anywhere carries a text column
    // (BroadcastExchange of the doc-id+text side is fine — that is
    // the stats-driven small-corpus plan; at scale it degrades to an
    // id-keyed shuffle, which is still candidate-bounded. What must
    // NEVER happen is text riding the band-join / pair-distinct hash
    // exchanges.)
    val vp = Dedup.verifiedNearDupPairs(docs, tau = 0.8,
      estThreshold = 0.35)
    vp.collect()
    val vpPlan = vp.queryExecution.executedPlan.toString
    val vpBad = vpPlan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        Seq("text#", "_ta#", "_tb#", "sig#").exists(l.contains))
    assert(vpBad.isEmpty,
      s"text/sig crossed a hash shuffle:\n${vpBad.mkString("\n")}")
    graft.cache.Pins.release(spark)
    // knLmScore: the corpus explodes to (w1, w2) token pairs at the
    // scan; text and the token array never ride a shuffle, and the
    // type-bounded count tables come back as broadcasts
    val kn = graft.llm.TextAnalysis.knLmScore(docs,
      docs.filter(col("doc_id") % 10 =!= 0))
    kn.collect()
    val knPlan = kn.queryExecution.executedPlan.toString
    noTextOnExchanges(knPlan, "text", "_tk")
    assert(knPlan.contains("BroadcastHashJoin"), knPlan.take(2000))
    graft.cache.Pins.release(spark)
    // ngramDiversity: grams leave the scan as 60-bit hashes; text
    // never rides any exchange
    val docsSrc = graft.queries.Star.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val nd = graft.llm.TextAnalysis.ngramDiversity(docsSrc)
    nd.collect()
    noTextOnExchanges(nd.queryExecution.executedPlan.toString, "text")
    // dupWeights: both the group and the join-back key on the
    // scan-side 64-bit content hash — text never shuffles
    val dw = graft.llm.Dedup.dupWeights(docsSrc)
    dw.collect()
    noTextOnExchanges(dw.queryExecution.executedPlan.toString, "text")
  }

  test("corpus-version memos scan a persisted parquet artifact, " +
       "not a driver-collected local relation") {
    // the LM-score and near-dup-cluster artifacts route through the
    // content-addressed Parquet memo: consumers must show a parquet
    // scan rooted at the memo store and no LocalTableScan (the old
    // collect-and-reemit shape that held the whole artifact on the
    // driver)
    graft.queries.LlmQueries.clearMemos()
    for (q <- Seq("llm_lm_score", "llm_dedup_clusters")) {
      val plan = planOf(graft.queries.LlmQueries.queries(q)(spark, sf))
      assert(plan.contains("graft-corpus-memo"),
        s"$q must scan the memo parquet:\n${plan.take(1500)}")
      assert(!plan.contains("LocalTableScan"),
        s"$q must not re-emit a driver-collected relation:\n" +
          plan.take(1500))
    }
  }

  test("cmsSketch: two-phase agg on (row, bucket) — the shuffle " +
       "carries at most depth x width rows per map partition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sk = graft.llm.HeavyHitters.cmsSketch(
      docs.select(explode(graft.llm.TextAnalysis.tokens(col("text")))
        .as("token")),
      depth = 4, width = 16)
    val plan = planOf(sk)
    // partial + final HashAggregate around one hash exchange: the
    // token stream collapses to <= d*w cells BEFORE the shuffle
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      plan.take(2000))
    assert(plan.contains("hashpartitioning"), plan.take(2000))
    // exactly one shuffle: build is a single aggregation pass
    // (formatted explain lists each operator once in the tree and
    // once as a numbered detail block)
    assert(plan.linesIterator.count(l =>
      l.trim.matches("""\(\d+\) Exchange.*""")) == 1, plan.take(2000))
  }

  test("jaccardPairsPrefix: no cross join anywhere — candidates come " +
       "from an equi-join on prefix shingles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.Dedup.jaccardPairsPrefix(docs, n = 3,
      threshold = 0.2))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix path must never cross-join:\n${plan.take(2000)}")
    // brute, by contrast, IS the declared cross join baseline
    val bPlan = planOf(graft.llm.Dedup.jaccardPairsBrute(docs, n = 3,
      threshold = 0.2))
    assert(bPlan.contains("CartesianProduct") ||
      bPlan.contains("BroadcastNestedLoopJoin"), bPlan.take(2000))
  }

  test("zorderLayout: ONE range exchange on the morton code + local " +
       "sort — never a global sort") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = planOf(graft.functions.ZOrder.zorderLayout(li,
      "l_partkey", "l_suppkey", numFiles = 8))
    assert(plan.contains("rangepartitioning"),
      s"layout must range-partition by the code:\n${plan.take(2000)}")
    assert(plan.linesIterator.count(l =>
      l.trim.matches("""\(\d+\) Exchange.*""")) == 1, plan.take(2000))
    // the sort is within partitions (no second, global sort order)
    assert(plan.linesIterator.exists(l => l.contains("Sort") &&
      !l.contains("Exchange")), plan.take(2000))
  }

  test("hashTopK: posting-style equi-join (no cartesian), two-phase " +
       "per-query rank") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.llm.TextAnalysis.hashTopK(
      docs.filter(col("doc_id") % 100 =!= 0),
      docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("text")),
      k = 5))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"sparse dot must equi-join on bucket:\n${plan.take(2000)}")
    // rank<=k runs as WindowGroupLimit partial+final, never a full
    // per-query sort of the scored stream on one side of the shuffle
    assert(plan.contains("WindowGroupLimit"), plan.take(2500))
  }

  test("rrfFuse: sketch-side sketch broadcast in cmsLookup; fusion " +
       "window partitions by query") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(
      explode(graft.llm.TextAnalysis.tokens(col("text"))).as("token"))
    val lk = graft.llm.HeavyHitters.cmsLookup(
      graft.llm.HeavyHitters.cmsSketch(toks), toks.distinct())
    val lkPlan = planOf(lk)
    // the d*w sketch must broadcast — probes never shuffle to meet it
    assert(lkPlan.contains("BroadcastHashJoin") ||
      lkPlan.contains("BroadcastNestedLoopJoin"), lkPlan.take(2000))
    import spark.implicits._
    val a = Seq((1L, 10L, 1L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 10L, 2L)).toDF("query_id", "doc_id", "rank")
    val fPlan = planOf(graft.llm.Similarity.rrfFuse(a, b, k = 3))
    // the final rank window keys on query_id — never a global window
    assert(fPlan.contains("Window"), fPlan.take(2000))
    assert(fPlan.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("query_id")),
      fPlan.take(3000))
  }

  test("windowedTrending: the CMS history inlines as a plan literal " +
       "— no join, exactly one aggregation exchange") {
    import spark.implicits._
    val hist = graft.llm.HeavyHitters.cmsSketch(
      Seq("a", "b", "a").toDF("token"))
    val batch = Seq((10L, "a"), (70L, "zz"), (80L, "zz"))
      .toDF("secs", "token")
      .withColumn("ts", col("secs").cast("timestamp"))
    val plan = planOf(graft.llm.HeavyHitters.windowedTrending(
      batch, "ts", "token", "1 hour", hist, minCount = 1L,
      minRatio = 0.0))
    // the whole point of the literal device: the history lookup adds
    // NO join and NO second stateful/aggregation stage — append-mode
    // streaming legality comes from exactly this shape
    assert(!plan.contains("Join"),
      s"history must not join into the stream:\n${plan.take(1500)}")
    // node-descriptor lines look like "(3) Exchange"
    val exchanges = plan.linesIterator
      .count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1,
      s"one windowed-count exchange expected, got $exchanges:\n" +
        plan.take(1500))
  }

  test("cellMigration: both assignments ride ONE scan as codegen'd " +
       "projections — no self-join, one aggregation exchange") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val b = Seq(Seq(0.5, 0.0), Seq(1.0, 0.5))
    val padA = a.map(_.padTo(64, 0.0))
    val padB = b.map(_.padTo(64, 0.0))
    val plan = planOf(
      graft.llm.Similarity.cellMigration(emb, padA, padB))
    assert(!plan.contains("Join"),
      s"must not self-join the corpus:\n${plan.take(1500)}")
    val exchanges = plan.linesIterator
      .count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1,
      s"one count-matrix exchange expected, got $exchanges:\n" +
        plan.take(1500))
  }

  test("q38 scoped anti-join: the window predicate pushes to the " +
       "orders scan and the join runs as LeftAnti") {
    val p = planOf(
      graft.queries.Relational.queries("q38_antijoin")(spark, sf))
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"),
      s"window filter must push into the build-side scan:\n${p.take(2000)}")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q37 correlated subquery: Catalyst decorrelates to an " +
       "aggregate+join — no scalar subquery survives, no cartesian, " +
       "the brand-filtered part side broadcasts") {
    val p = planOf(
      graft.queries.Relational.queries("q37_corr_subquery")(spark, sf))
    assert(!p.contains("ScalarSubquery"),
      s"the correlated subquery must decorrelate:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the decorrelated per-part threshold shows up as an aggregate
    // over l_quantity joined back on the part key
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      p.take(2000))
  }

  test("q34 star top-k: filters reach all three scans, the customer " +
       "key set broadcasts, top-k never global-sorts") {
    val p = planOf(
      graft.queries.Relational.queries("q34_star_topk")(spark, sf))
    // each scan carries ITS filter (pushdown survived the 3-way join)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must push to the customer scan:\n${p.take(2500)}")
    assert(p.contains("LessThan(o_orderdate"),
      s"date filter must push to the orders scan:\n${p.take(2500)}")
    assert(p.contains("GreaterThan(l_shipdate"),
      s"ship filter must push to the lineitem scan:\n${p.take(2500)}")
    // the 1-column filtered customer side is the broadcast dimension
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    // LIMIT 10 over a sort = TakeOrderedAndProject (per-partition
    // top-k), never a global Sort of the aggregate
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
  }

  test("q35 4-way star: nation broadcasts, filters reach the fact " +
       "scans, top-k never global-sorts") {
    val p = planOf(
      graft.queries.Relational.queries("q35_star_4way")(spark, sf))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must push to the lineitem scan:\n${p.take(2500)}")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"),
      s"order-window filters must push to the orders scan:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"nation must join as a broadcast dimension:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
  }

  test("q40 Q21-shape: correlated exists/not-exists run as semi + " +
       "anti equi-joins over the distinct sets, top-10 never " +
       "global-sorts") {
    val p = planOf(
      graft.queries.Relational.queries("q40_sole_offender")(spark, sf))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"exists/not-exists must stay semi/anti joins:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    // the 'R' filter reaches the lineitem scan of the offender side
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"offender filter must push down:\n${p.take(2500)}")
  }

  test("corpusReport: no cartesian, raw text never rides an " +
       "exchange (only derived per-doc columns shuffle)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = planOf(graft.llm.TextAnalysis.corpusReport(
      docs, Seq("badterm1")))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    val shuffles = p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!shuffles.contains("text"),
      s"full text must never shuffle:\n$shuffles")
  }

  test("perceptual pair joins (image dHash / audio fingerprint / " +
       "video frame slots): banded equi-joins, never a cartesian; " +
       "blobs stay out of the shuffle") {
    val blobs = graft.llm.Multimodal.asBlobs(
      spark.read.parquet(s"$sf/documents.parquet"),
      "doc_id", "text", "image")
    Seq(
      graft.llm.Multimodal.phashNearDupPairs(blobs),
      graft.llm.Multimodal.audioNearDupPairs(blobs),
      graft.llm.Multimodal.videoNearDupPairs(blobs)
    ).foreach { pairs =>
      val p = planOf(pairs)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pair join must stay an equi-join on the bands:\n${p.take(2500)}")
      assert(p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
        s"band join missing:\n${p.take(2500)}")
      // only 8-byte signatures ride the exchange — the binary content
      // column must not appear in any shuffle output schema
      val shuffles = p.linesIterator
        .filter(_.contains("Exchange")).mkString("\n")
      assert(!p.contains("content#") ||
        !shuffles.contains("content"),
        s"blob bytes must never shuffle:\n$shuffles")
    }
  }

  test("takedown preview: the id set broadcasts (no layer shuffle " +
       "before the partition rollup, no cartesian)") {
    import spark.implicits._
    val dir = graft.Scratch.root + "/plan_preview"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/ingest_batch=0")
    val plan = planOf(graft.llm.Takedown.takedownPreview(spark, dir,
      Seq(1L).toDF("doc_id"), "doc_id"))
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"the id side must broadcast:\n${plan.take(2000)}")
  }

  test("filtered ANN: the attribute predicate pushes into the " +
       "probed-cell parquet scan (PushedFilters) and unprobed cells " +
       "prune at the partition level — no join back to the corpus") {
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, nCells = 8, iters = 1)
    val dir = graft.Scratch.root + "/plan_ann_filtered"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Similarity.ivfWriteIndex(emb.withColumn("grp", col("vec_id") % 5),
      cents, dir, attrCols = Seq("grp"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val res = Similarity.ivfTopKIndexedWhere(spark, dir, q,
      k = 5, predicate = col("grp") === 2, nProbe = 2)
    val plan = planOf(res)
    assert(plan.contains("EqualTo(grp,2)") &&
      plan.contains("PushedFilters"),
      s"attribute predicate must reach the parquet reader:\n" +
        plan.linesIterator.filter(_.contains("Filters"))
          .mkString("\n"))
    val partLine = plan.linesIterator
      .find(_.trim.startsWith("PartitionFilters")).getOrElse("")
    assert(partLine.contains("cell_id"),
      s"probed cells must prune as partition filters: $partLine")
    // one index scan + the broadcast probe join — never a second
    // corpus-side join or a cartesian
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    // and the result is non-trivial with the filter honored
    assert(res.count() > 0)
  }

  test("epoch shuffle family: epochShuffle is a narrow projection " +
       "(zero exchanges, zero sorts); trainingOrder shuffles only " +
       "the |sources|-row epoch plan and broadcasts it back — the " +
       "corpus never sorts or shuffles") {
    import graft.llm.Mixing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p1 = planOf(Mixing.epochShuffle(docs, epoch = 1, nShards = 8))
    assert(!p1.contains("Exchange") && !p1.contains("Sort"),
      s"epochShuffle must stay narrow:\n${p1.take(1500)}")
    val p2 = planOf(Mixing.trainingOrder(docs,
      Map("src0" -> 0.5, "src1" -> 0.5), targetTokens = 10000L,
      nShards = 8))
    assert(p2.contains("BroadcastHashJoin") &&
      !p2.contains("SortMergeJoin") &&
      !p2.contains("CartesianProduct"),
      s"the epoch plan must broadcast onto the corpus:\n" +
        p2.take(2500))
    // the only hash exchange is the per-source token aggregate
    // (map-side combined, |sources| keys); the corpus side of the
    // join never repartitions
    val hashEx = p2.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"one plan-side exchange at most:\n" +
      p2.linesIterator.filter(_.contains("Exchange"))
        .mkString("\n"))
    assert(!p2.contains("Exchange rangepartitioning"),
      "no global sort anywhere in the export")
  }

  test("fimTransform is a shuffle-free narrow projection (the free " +
       "export-scan column)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = planOf(graft.llm.Mixing.fimTransform(docs, rate = 0.5))
    assert(!p.contains("Exchange"),
      s"row-local transform must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p.take(500))
  }

  test("qualityClassifier feature/gradient passes: map-side combined " +
       "aggregates, no cartesian, dim-bounded gradient shuffle") {
    import graft.llm.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // one training round's gradient plan, reconstructed the way the
    // loop builds it (w = 0): the aggregates must partial map-side
    // and the only joins are id-keyed (never a cartesian)
    val scored = TextAnalysis.qualityClassifier(docs,
      array_contains(TextAnalysis.tokens(col("text")), "spark"),
      rounds = 1)
    val p = planOf(scored)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian anywhere in scoring:\n${p.take(2000)}")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "logit aggregation must partial map-side")
  }

  test("gate trainer round moves no corpus-sized frame: the only " +
       "broadcast is the (dim+1)-row weights, never the label") {
    import graft.llm.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the SQL REFERENCE round (since r21 the shipped trainer runs
      // the fused one-pass gateRoundGradient, spec-proven equal bit
      // for bit — this law still pins the reference form): with
      // auto-broadcast off, any BroadcastHashJoin left is an EXPLICIT
      // hint — the only one allowed is the bucket-keyed weights
      // attach. A doc_id-keyed broadcast join is the label-frame
      // regression this gate exists to block (corpus-sized broadcast
      // x rounds at 100 TB).
      val hvl = TextAnalysis.gateTrainingFeatures(docs,
        array_contains(TextAnalysis.tokens(col("text")), "spark"),
        dim = 64, textCol = "text", idCol = "doc_id")
      val sig = TextAnalysis.gateResiduals(
        hvl, Array.fill(65)(0.0), "doc_id")
      val g = hvl.join(sig, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum((col("_r") * col("x")).cast("decimal(38,18)"))
          .as("_g"))
      val p = planOf(g)
      val badBhj = p.linesIterator.filter(l =>
        l.contains("BroadcastHashJoin") && l.contains("doc_id")).toSeq
      assert(badBhj.isEmpty,
        s"no doc-keyed broadcast join in a GD round:\n" +
          badBhj.mkString("\n"))
      assert(p.contains("BroadcastHashJoin"),
        s"the weights must still attach via their broadcast hint:\n" +
          p.take(1500))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("bm25 impact slice: the term-partitioned rank window is " +
       "GROUP-LIMITED map-side (a stopword's postings never assemble " +
       "in one partition)") {
    import graft.llm.TextAnalysis
    val layer = graft.Scratch.root + "/plan_bm25prune"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(layer))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    TextAnalysis.bm25PostingsBatch(docs, layer, batchId = 0L)
    val qt = docs.limit(3)
      .select(col("doc_id").as("query_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .distinct()
    val slice = TextAnalysis.bm25ImpactSlice(
      TextAnalysis.bm25QueryVocabPostings(spark, layer, qt,
        k1 = 1.2, b = 0.75, idCol = "doc_id"),
      sliceM = 128, idCol = "doc_id")
    val plan = slice.queryExecution.executedPlan.toString
    // the slice rank runs TWO-PHASE: a WindowGroupLimit Partial
    // below the term exchange bounds every map partition at sliceM
    // rows per term — without it the term window is the exact skew
    // hazard the plain-bm25 gate forbids
    val lines = plan.linesIterator.toSeq
    val termExchange = lines.indexWhere(
      _.matches(""".*Exchange hashpartitioning\(term#\d+, \d+\).*"""))
    assert(termExchange >= 0,
      s"slice term exchange missing:\n${plan.take(2500)}")
    val below = lines.drop(termExchange + 1)
      .takeWhile(!_.contains("Exchange hashpartitioning"))
    assert(below.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      "WindowGroupLimit Partial must sit BELOW the term exchange " +
        s"(map side):\n${below.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("llm_rrf_indexed serves from standing layers: no cartesian, " +
       "every unkeyed join has a model-sized side") {
    import org.apache.spark.sql.catalyst.plans.logical._
    val q = graft.queries.LlmQueries.queries("llm_rrf_indexed")(
      spark, sf)
    val p = planOf(q)
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the hybrid serve:\n${p.take(2500)}")
    // unkeyed (cross/conditionless) joins are legal ONLY against a
    // side that is model-sized BY CONSTRUCTION: a global aggregate
    // (the 1-row N/avgdl stats frame the BM25 serves broadcast) or a
    // local relation (the centroid set each query row probes).
    // Anything else — a parquet-backed side, a join result — would be
    // a data-sized nested loop hiding at spec scale and exploding at
    // 100 TB. Checked on the optimized LOGICAL plan: physical BNLJ
    // counts double-count reused exchanges and miss the build side.
    @annotation.tailrec
    def strip(pl: LogicalPlan): LogicalPlan = pl match {
      case pr: Project       => strip(pr.child)
      case f: Filter         => strip(f.child)
      case s: SubqueryAlias  => strip(s.child)
      case w: WithCTE        => strip(w.plan)
      case r: ResolvedHint   => strip(r.child)
      case _                 => pl
    }
    def modelSized(pl: LogicalPlan): Boolean = strip(pl) match {
      case a: Aggregate   => a.groupingExpressions.isEmpty
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case _              => false
    }
    val unkeyed = q.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.isEmpty ||
          j.joinType == org.apache.spark.sql.catalyst.plans.Cross => j
    }
    unkeyed.foreach { j =>
      assert(modelSized(j.left) || modelSized(j.right),
        s"unkeyed join over two data-sized sides:\n$j")
    }
  }
}
