package graft

import graft.access.Access
import graft.cache.Memo
import graft.fold.FoldCol
import graft.loc._
import graft.model._
import graft.task.PTask
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-backed framework tests: the end-to-end slice (SURVEY §7
  * minimum milestone) plus layered reads, indexed repetition IO,
  * fold algebra, and the content-hash cache. */
class SparkFrameworkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"
  def scratch(name: String): String = {
    val d = s"${graft.Scratch.root}/test_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  test("driver smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has matching oracle column names or rows") {
    // queries with an oracle: spot-check they run at sf0.001
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("end-to-end slice: load >>> transform >>> write through catalog") {
    import spark.implicits._
    val out = scratch("slice")
    val src = VirtualFile(VPath("/Inputs/orders"), Seq("parquet"), Usage.Source)
    val snk = VirtualFile(VPath("/Outputs/bigOrders"), Seq("parquet"), Usage.Sink)
    val pipeline =
      Access.loadData(src) >>>
        PTask.arr((df: org.apache.spark.sql.DataFrame) =>
          df.filter($"o_totalprice" > 200000.0)
            .select($"o_orderkey", $"o_totalprice")) >>>
        Access.writeData(snk)
    val mappings = Mappings(Map(
      VPath("/Inputs/orders") -> MappingRhs.Layers(Seq(LocTemplate(s"$sf/orders.parquet"))),
      VPath("/Outputs/bigOrders") -> MappingRhs.Layers(Seq(LocTemplate(s"$out/big.parquet")))))
    Pipeline.run(spark, pipeline, mappings, ())
    val back = spark.read.parquet(s"$out/big.parquet")
    assert(back.count() > 0)
    assert(back.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
  }

  test("layered read merges multiple physical layers (union monoid)") {
    val vf = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source,
      readScheme = ReadScheme.Layered)
    val m = Mappings(Map(VPath("/in") -> MappingRhs.Layers(Seq(
      LocTemplate(s"$sf/region.parquet"), LocTemplate(s"$sf/region.parquet")))))
    val df = Pipeline.run(spark, Access.loadData(vf), m, ())
    val single = spark.read.parquet(s"$sf/region.parquet").count()
    assert(df.count() == 2 * single)
  }

  test("LayeredWithNull with zero layers yields empty (monoid zero)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", IntegerType)))
    val vf = VirtualFile(VPath("/opt/in"), Seq("parquet"), Usage.Source,
      schema = Some(schema), readScheme = ReadScheme.LayeredWithNull)
    val df = Pipeline.run(spark, Access.loadData(vf), Mappings.empty, ())
    assert(df.count() == 0 && df.schema == schema)
  }

  test("multi-sink write goes to every layer (PorcupineTree.hs:602-613)") {
    val out = scratch("multisink")
    val vf = VirtualFile(VPath("/out"), Seq("parquet"), Usage.Sink)
    val m = Mappings(Map(VPath("/out") -> MappingRhs.Layers(Seq(
      LocTemplate(s"$out/a.parquet"), LocTemplate(s"$out/b.parquet")))))
    val df = spark.read.parquet(s"$sf/region.parquet")
    Pipeline.run(spark, Access.writeData(vf), m, df)
    assert(spark.read.parquet(s"$out/a.parquet").count() == df.count())
    assert(spark.read.parquet(s"$out/b.parquet").count() == df.count())
  }

  test("writeEffData skips the producing thunk when sink unbound") {
    var forced = false
    val vf = VirtualFile(VPath("/unmapped/out"), Seq("parquet"), Usage.Sink)
    Pipeline.run(spark, Access.writeEffData(vf), Mappings.empty,
      () => { forced = true; spark.emptyDataFrame })
    assert(!forced, "dead-sink elimination must not force the producer")
  }

  test("indexed write + indexed read round-trip ({var} repetition IO)") {
    import spark.implicits._
    val out = scratch("indexed")
    val snk = VirtualFile(VPath("/out/byflag"), Seq("parquet"), Usage.Sink)
    val m = Mappings(Map(VPath("/out/byflag") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$out/byflag-{flag}.parquet")))))
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_returnflag".as("rep_index"))
    Pipeline.run(spark, Access.writeIndexed(snk, "flag"), m, df)
    // partitionBy layout: .../rep_index=A/...
    val back = spark.read.parquet(s"$out/byflag-by_rep_index.parquet")
    assert(back.select("rep_index").distinct().count() ==
      df.select("rep_index").distinct().count())
  }

  test("fold algebra: applicative product == one-pass df.agg") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val fold = FoldCol.count
      .zip(FoldCol.minOf[Double]($"l_quantity"))
      .zip(FoldCol.maxOf[Double]($"l_quantity"))
      .map { case ((n, lo), hi) => (n, lo, hi) }
    val (n, lo, hi) = fold.run(li)
    assert(n == li.count())
    assert(lo == 1.0 && hi == 50.0)
    // grouped form stays distributed
    val g = FoldCol.count.zip(FoldCol.sumD($"l_quantity"))
    val gdf = g.runGrouped(li, $"l_returnflag")
    assert(gdf.count() == 3)
    // map2 fuses two folds with a combining function (FoldA.hs:150)
    val mean = FoldCol.sumD($"l_quantity")
      .map2(FoldCol.count)((s, c) => s / c)
    assert(math.abs(mean.run(li) -
      li.agg(avg($"l_quantity")).head.getDouble(0)) < 1e-9)
    // premap transforms the input column before the fold (lmap)
    val sumSq = FoldCol.premap[Double](c => c * c, FoldCol.sumD)(
      $"l_quantity")
    assert(sumSq.run(li) ==
      li.agg(sum($"l_quantity" * $"l_quantity").cast("double"))
        .head.getDouble(0))
    // sumL / collectList / approxCountDistinct stock folds
    assert(FoldCol.sumL(lit(1L)).run(li) == li.count())
    val flags = FoldCol.collectList($"l_returnflag").run(li.limit(50))
    assert(flags.size == 50)
    // HLL++ is exact in its sparse regime — 3 distinct flags
    assert(FoldCol.approxCountDistinct($"l_returnflag").run(li) == 3L)
    // fromAggregator: a custom typed Aggregator runs as a UDAF fold
    val sumSqAgg = new org.apache.spark.sql.expressions
        .Aggregator[Double, Double, Double] {
      def zero = 0.0
      def reduce(b: Double, a: Double) = b + a * a
      def merge(x: Double, y: Double) = x + y
      def finish(b: Double) = b
      def bufferEncoder = org.apache.spark.sql.Encoders.scalaDouble
      def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
    }
    assert(FoldCol.fromAggregator(sumSqAgg,
        $"l_quantity".cast("double"))(org.apache.spark.sql.Encoders.scalaDouble).run(li) ==
      sumSq.run(li))
  }

  test("content-hash memo: second run reuses, rebind invalidates") {
    val root = scratch("memo")
    val memo = Memo(spark, root)
    var computes = 0
    def expensive() = { computes += 1
      spark.read.parquet(s"$sf/region.parquet") }
    val key = memo.keyOf(Seq("stage1", s"$sf/region.parquet",
      memo.fingerprint(s"$sf/region.parquet")))
    memo.getOrElseUpdate(key)(expensive())
    memo.getOrElseUpdate(key)(expensive())
    assert(computes == 1, "cache hit must skip recompute")
    val key2 = memo.keyOf(Seq("stage1", s"$sf/nation.parquet",
      memo.fingerprint(s"$sf/nation.parquet")))
    assert(key2 != key, "different bound location must change the key")
  }

  test("parMapTask fans out with per-index var splicing") {
    import spark.implicits._
    val out = scratch("parmap")
    // write 3 indexed inputs first
    (0 to 2).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$out/in-$i.parquet")
    }
    val src = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source)
    val m = Mappings(Map(VPath("/in") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$out/in-{i}.parquet")))))
    val body = Access.loadData(src) >>>
      PTask.arr((df: org.apache.spark.sql.DataFrame) => df.count())
    val rep = graft.rep.Repetition.parMapTask("i", body, maxConcurrent = 3)
    val res = Pipeline.run(spark, rep,
      m, Seq("0" -> (), "1" -> (), "2" -> ()))
    assert(res.map(_._2) == Seq(1L, 1L, 1L))
  }

  test("mappingOverStream: first element eager at run time, tail " +
       "demand-driven (Streaming.hs:88-96); empty stream runs nothing") {
    import spark.implicits._
    val out = scratch("mapstream")
    (0 to 2).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$out/in-$i.parquet")
    }
    val src = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source)
    val m = Mappings(Map(VPath("/in") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$out/in-{i}.parquet")))))
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val body = Access.loadData(src) >>>
      PTask.arr { (df: org.apache.spark.sql.DataFrame) =>
        runs.incrementAndGet(); df.count() }
    val rep = graft.rep.Repetition.mappingOverStream("i", body)
    val outIt = Pipeline.run(spark, rep, m,
      Iterator("0" -> (), "1" -> (), "2" -> ()))
    // the reference's evaluation order (Streaming.hs:88-96): element 0
    // runs eagerly at task-run time, before anything is pulled...
    assert(runs.get == 1, "element 0 must run at task-run time")
    val first = outIt.next()
    assert(first == ("0" -> 1L) && runs.get == 1,
      s"pulling the pre-run first result runs nothing (got $first " +
      s"after ${runs.get} runs)")
    // ...and the tail is demand-driven: one sub-run per pulled element
    val second = outIt.next()
    assert(second == ("1" -> 1L) && runs.get == 2,
      s"pull one tail element -> run one (got $second, ${runs.get})")
    assert(outIt.toSeq == Seq("2" -> 1L) && runs.get == 3)
    // empty input stream: zero sub-runs (Streaming.hs:88-91)
    val before = runs.get
    val empty = Pipeline.run(spark, rep, m,
      Iterator.empty: Iterator[(String, Unit)])
    assert(!empty.hasNext && runs.get == before,
      "an empty stream must not run the task at all")
  }

  test("fan-out branches carry the caller's job group and tags; " +
       "PTask.named labels the jobs of both branches") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val branch = PTask.task { (ctx: graft.task.RunCtx, n: Long) =>
      threads.add(Thread.currentThread.getName)
      ctx.spark.range(n).selectExpr("sum(id)").collect()
      n
    }
    val task = (branch &&& branch).named("fanout-outer")
    // leave an idle pool thread created outside the group: a reused
    // thread must be given the caller's properties, not inherit them
    Pipeline.run(spark, branch &&& branch, Mappings.empty, 1L)
    threads.clear()
    val sc = spark.sparkContext
    sc.addJobTag("graft-spec-tag")
    val jobs = try JobWatch.during(spark) {
      assert(Pipeline.run(spark, task, Mappings.empty, 10L) == (10L, 10L))
    } finally sc.removeJobTag("graft-spec-tag")
    assert(threads.size == 2 &&
      threads.toArray.exists(_.toString.startsWith("graft-fanout")),
      s"branch threads: $threads")
    assert(jobs.size >= 2, s"${jobs.size} jobs")
    jobs.foreach { j =>
      assert(j.group == "fanout-outer", s"job group ${j.group}")
      assert(Option(j.props.getProperty("spark.job.tags"))
        .exists(_.split(",").contains("graft-spec-tag")),
        s"job tags ${j.props.getProperty("spark.job.tags")}")
    }
  }
}
