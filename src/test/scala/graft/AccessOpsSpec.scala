package graft

import graft.access.{Access, Http}
import graft.fold.FoldCol
import graft.llm.Multimodal
import graft.loc._
import graft.model._
import graft.task.PTask
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gap-fill IO/caching operators: HTTP accessor (against an in-JVM
  * server), permissive indexed loads, cached tasks, effectful local
  * folds, blob write-back, folder listing, zlib-wrapped formats. */
class AccessOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"
  def scratch(name: String): String = {
    val d = s"${graft.Scratch.root}/aops_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  // ---- HTTP accessor against a local in-process server ----
  private def withServer[T](routes: Map[String, String])(
      body: String => T): T = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, payload) =>
      server.createContext(path, exchange => {
        val bytes = payload.getBytes("UTF-8")
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("HTTP: single JSON read + cached re-read") {
    withServer(Map("/poke" -> """{"name": "pikachu", "weight": 60}""")) {
      base =>
        val df = Http.readJson(spark, s"$base/poke")
        assert(df.select("name").head().getString(0) == "pikachu")
        // cached variant through the pipeline cache
        val memoRoot = scratch("httpmemo")
        val task = Http.loadJsonUrl(s"$base/poke")
        val r1 = Pipeline.run(spark, task, Mappings.empty, (),
          cacheRoot = Some(memoRoot))
        assert(r1.select("weight").head().getLong(0) == 60)
    }
  }

  test("HTTP write side: executor-side POST per row with outcomes") {
    import spark.implicits._
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ingest", exchange => {
      received.add(new String(
        exchange.getRequestBody.readAllBytes(), "UTF-8"))
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      val outcomes = Http.postRows(df, s"$base/ingest/{id}").collect()
      assert(outcomes.length == 2 && outcomes.forall(_.getString(1) == "ok"))
      assert(received.size == 2)
      assert(received.toArray.mkString.contains("\"v\":\"a\""))
    } finally server.stop(0)
  }

  test("graft-http DataSourceV2: parallel indexed fetch on executors") {
    withServer(Map(
      "/u/1" -> """{"id": 1}""",
      "/u/2" -> """{"id": 2}""",
      "/u/3" -> """{"id": 3}""")) { base =>
      val df = spark.read.format("graft-http")
        .option("urlTemplate", s"$base/u/{uid}")
        .option("var", "uid")
        .option("indices", "[1..3,404]")
        .option("parallelism", "2")
        .load()
      assert(df.schema.fieldNames.toSeq == Seq("rep_index", "body", "error"))
      assert(df.rdd.getNumPartitions == 2)
      val rows = df.collect().map(r =>
        (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
      assert(rows.length == 4)
      assert(rows.count(_._2.isDefined) == 3)
      assert(rows.find(_._1 == "404").exists(_._3.exists(_.contains("404"))),
        "the failed row's error names the 404")
      // bodies parse downstream like any JSON layer
      val parsed = spark.read.json(
        spark.createDataset(df.filter(col("error").isNull)
          .select("body").collect().map(_.getString(0)).toSeq)(
          spark.implicits.newStringEncoder))
      assert(parsed.select(sum(col("id"))).head().getLong(0) == 6L)
    }
  }

  test("HTTP catalog layers: job-spec object locations through loadData/writeData") {
    // the reference's JSON location form (HTTP.hs:58-153): an http URL
    // (or {url, readMethod/writeMethod/timeoutSeconds} object) bound in
    // a job spec is a first-class layer for any virtual file
    val received = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/orders.json", exchange => {
      val bytes =
        """[{"id": 1, "status": "O"}, {"id": 2, "status": "F"},
          | {"id": 3, "status": "O"}]""".stripMargin.getBytes("UTF-8")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.createContext("/sink.json", exchange => {
      received.add((exchange.getRequestMethod,
        new String(exchange.getRequestBody.readAllBytes(), "UTF-8")))
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val spec = graft.config.JobSpec.parse(
        s"""locations:
           |  /Inputs/Api: {url: "$base/api/orders.json", timeoutSeconds: 2}
           |  /Outputs/Api: {url: "$base/sink.json", writeMethod: PUT}
           |""".stripMargin)
      // object fields became accessor options on the layer
      val Resolved.Bound(Seq(srcLoc)) =
        spec.mappings.layersFor(VPath("/Inputs/Api"), "json")
      assert(srcLoc.raw == s"$base/api/orders.json")
      assert(srcLoc.options("timeoutSeconds") == "2")
      assert(Http.confFor(srcLoc, forWrite = false)
        .timeout.getSeconds == 2L)
      val Resolved.Bound(Seq(snkLoc)) =
        spec.mappings.layersFor(VPath("/Outputs/Api"), "json")
      assert(Http.confFor(snkLoc, forWrite = true).method == "PUT")
      // full pipeline round-trip: read layer -> transform -> write layer
      val src = VirtualFile(VPath("/Inputs/Api"), Seq("json"), Usage.Source)
      val snk = VirtualFile(VPath("/Outputs/Api"), Seq("json"), Usage.Sink)
      val task = Access.loadData(src) >>>
        PTask.arr((df: org.apache.spark.sql.DataFrame) =>
          df.filter(col("status") === "O").select("id")) >>>
        Access.writeData(snk)
      Pipeline.run(spark, task, spec.mappings, ())
      val (method, body) = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(method == "PUT")
      assert(body.contains("\"id\":1") && body.contains("\"id\":3")
        && !body.contains("\"id\":2"))
    } finally server.stop(0)
  }

  test("HTTP catalog layers: spec render round-trips object locations") {
    val spec = graft.config.JobSpec.parse(
      """locations:
        |  /Inputs/Api: {url: "https://x.test/u.json", timeoutSeconds: 5}
        |  /plain: /data/p.parquet
        |""".stripMargin)
    val again = graft.config.JobSpec.parse(spec.render)
    assert(again.mappings.bindings == spec.mappings.bindings)
    val Resolved.Bound(Seq(l)) =
      again.mappings.layersFor(VPath("/Inputs/Api"), "json")
    assert(l.options("timeoutSeconds") == "5")
  }

  test("tryLoadIndexed: missing occurrence becomes an error entry") {
    import spark.implicits._
    val base = scratch("tryload")
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$base/in-0.parquet")
    Seq((2, "b")).toDF("id", "v").write.parquet(s"$base/in-1.parquet")
    val vf = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source)
    val m = Mappings(Map(VPath("/in") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$base/in-{i}.parquet")))))
    val (df, errs) = Pipeline.run(spark,
      Access.tryLoadIndexed(vf, "i"), m, Seq("0", "1", "9"))
    assert(df.count() == 2)
    assert(errs.keySet == Set("9"))
  }

  test("writeDataFold: fold step writes each element to its indexed sink") {
    import spark.implicits._
    val base = scratch("wdf")
    val vf = VirtualFile(VPath("/out"), Seq("parquet"), Usage.Sink)
    val m = Mappings(Map(VPath("/out") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$base/out-{k}.parquet")))))
    val elems = Seq(
      "a" -> Seq((1, "x")).toDF("id", "v"),
      "b" -> Seq((2, "y"), (3, "z")).toDF("id", "v"),
      "c" -> Seq((4, "w")).toDF("id", "v"))
    Pipeline.run(spark, Access.writeDataFold(vf, "k"), m, elems)
    Seq("a" -> 1L, "b" -> 2L, "c" -> 1L).foreach { case (k, n) =>
      assert(new java.io.File(s"$base/out-$k.parquet").exists(), s"out-$k")
      assert(spark.read.parquet(s"$base/out-$k.parquet").count() == n)
    }
    // unbound sink: the fold is a no-op, not a failure (dead-sink skip)
    Pipeline.run(spark, Access.writeDataFold(vf, "k"), Mappings.empty, elems)
  }

  test("cachedTask memoizes by salt+key and honors Unhashed exclusion") {
    var computes = 0
    val memoRoot = scratch("ctask")
    val t = PTask.cachedTask[Int]("stage-x",
      (_, threshold) => Seq(threshold.toString)) { (ctx, threshold) =>
      computes += 1
      ctx.spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > threshold)
    }
    val r1 = Pipeline.run(spark, t, Mappings.empty, 100000,
      cacheRoot = Some(memoRoot))
    val n1 = r1.count()
    val r2 = Pipeline.run(spark, t, Mappings.empty, 100000,
      cacheRoot = Some(memoRoot))
    assert(r2.count() == n1 && computes == 1, "hit must skip compute")
    Pipeline.run(spark, t, Mappings.empty, 300000,
      cacheRoot = Some(memoRoot)).count()
    assert(computes == 2, "different key part must miss")
  }

  test("foldLocally: effectful driver-side fold (generalizeM analog)") {
    val df = spark.read.parquet(s"$sf/region.parquet")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = FoldCol.foldLocally(df.orderBy("r_regionkey"))(0) { (acc, row) =>
      seen += row.getAs[String]("r_name"); acc + 1
    }
    assert(n == df.count() && seen.size == n)
  }

  test("writeBlobs: one file per row via executor-side FS writes") {
    import spark.implicits._
    val out = scratch("blobs")
    val blobs = Multimodal.asBlobs(
      Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "text"),
      "doc_id", "text", "image")
    Multimodal.writeBlobs(blobs, out)
    val f1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/1.bin"))
    assert(new String(f1, "UTF-8") == "hello")
    assert(new java.io.File(s"$out/2.bin").exists())
  }

  test("listFolder: recursive listing through Hadoop FS") {
    val base = scratch("listing")
    import spark.implicits._
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$base/sub/data.parquet")
    val listed = Access.listFolder(spark, base)
    assert(listed.count() >= 1)
    assert(listed.filter(col("path").contains("sub/data.parquet")).count() >= 1)
  }

  test("splitEither / splitFirstMatch: branches partition the parent") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4, 5, 6).toDF("x")
    val (evens, odds) = graft.access.Split.splitEither(df, col("x") % 2 === 0)
    assert(evens.count() == 3 && odds.count() == 3)
    val branches = graft.access.Split.splitFirstMatch(df,
      Seq("big" -> (col("x") > 4), "mid" -> (col("x") > 2)),
      restName = Some("small"))
    assert(branches("big").count() == 2)   // 5,6
    assert(branches("mid").count() == 2)   // 3,4 (first-match excludes 5,6)
    assert(branches("small").count() == 2) // 1,2
  }

  test("managed split handles: value + close() releases the shared " +
       "parent; multiSplit branches may overlap; mapAnnotated keeps " +
       "key columns and transforms payload") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4, 5, 6).toDF("x")
    val h = graft.access.Split.splitEitherManaged(df, col("x") % 2 === 0)
    val (ev, od) = h.value
    assert(ev.count() == 3 && od.count() == 3)
    assert(h.parent.storageLevel.useMemory, "parent pinned while open")
    h.close()
    assert(!h.parent.storageLevel.useMemory, "close() releases the pin")
    val hm = graft.access.Split.multiSplitManaged(df,
      Seq("gt2" -> (col("x") > 2), "lt5" -> (col("x") < 5)))
    assert(hm.value("gt2").count() == 4 && hm.value("lt5").count() == 4,
      "overlapping branches need not partition")
    hm.close()
    val m = graft.access.Split.multiSplit(df,
      Seq("ev" -> (col("x") % 2 === 0)))
    assert(m("ev").count() == 3)
    graft.cache.Pins.release(spark)
    val hf = graft.access.Split.splitFirstMatchManaged(df,
      Seq("big" -> (col("x") > 4), "mid" -> (col("x") > 2)),
      Some("small"))
    assert(hf.value("big").count() == 2 && hf.value("mid").count() == 2 &&
      hf.value("small").count() == 2)
    hf.close()
    var seen = -1L
    val th = graft.access.Split.teeThroughManaged(df)(
      _.filter(col("x") > 4))(side => seen = side.count())
    assert(seen == 2 && th.value.count() == 6)
    th.close()
    val ann = Seq((1, "k1", 10), (2, "k2", 20)).toDF("id", "key", "v")
    val out = graft.access.Split.mapAnnotated(ann, Seq("id", "key"),
      Map("v" -> (col("v") * 2)))
    assert(out.columns.toSeq == Seq("id", "key", "v"))
    assert(out.orderBy("id").collect().map(_.getInt(2)).toSeq ==
      Seq(20, 40))
  }

  test("teeThrough: side output written, original passes through") {
    import spark.implicits._
    val out = scratch("tee")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val through = graft.access.Split.teeThrough(df)(
      _.filter(col("id") === 1))(_.write.parquet(out))
    assert(through.count() == 2)
    assert(spark.read.parquet(out).count() == 1)
  }

  test("readVF / locsMappedTo / loadDataCached: direct read face, " +
       "location introspection, memoized load (with and without a " +
       "cache ctx)") {
    val src = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source)
    val m = Mappings(Map(VPath("/in") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$sf/region.parquet")))))
    val want = spark.read.parquet(s"$sf/region.parquet").count()
    // readVF is the audited read face loadData delegates to — called
    // directly under a bound ctx it reads the same relation
    val direct = Pipeline.run(spark,
      PTask(Catalog.of(src),
        (ctx: graft.task.RunCtx, _: Any) => Access.readVF(ctx, src)),
      m, ())
    assert(direct.count() == want)
    // locsMappedTo surfaces the bound physical layers (requirements
    // come from the composed loadData, which declares the path)
    val (df, locs) = Pipeline.run(spark,
      Access.loadData(src) &&& Access.locsMappedTo(VPath("/in")),
      m, ())
    assert(df.count() == want)
    assert(locs == Seq(s"$sf/region.parquet"))
    // loadDataCached memoizes on the content fingerprint...
    val memoDir = scratch("loadcached")
    val n1 = Pipeline.run(spark, Access.loadDataCached(src), m, (),
      cacheRoot = Some(memoDir)).count()
    val n2 = Pipeline.run(spark, Access.loadDataCached(src), m, (),
      cacheRoot = Some(memoDir)).count()
    assert(n1 == want && n2 == want)
    // ...and degrades to a plain read when the ctx has no memo
    assert(Pipeline.run(spark, Access.loadDataCached(src), m, ())
      .count() == want)
  }

  test("Streams: list<->stream round-trip and drain") {
    import spark.implicits._
    val ds = graft.rep.Streams.listToStream(spark, Seq(1, 2, 3))
    assert(graft.rep.Streams.runStream(ds.toDF()) == 3)
    assert(graft.rep.Streams.streamToList(ds.toDF()).map(_.getInt(0)).sorted
      == Seq(1, 2, 3))
    assert(graft.rep.Streams.localIterator(ds.toDF()).size == 3)
  }

  test("loadFolder reads every source under one virtual folder") {
    import spark.implicits._
    val base = scratch("folder")
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$base/users.parquet")
    Seq((2, "b")).toDF("id", "v").write.parquet(s"$base/items.parquet")
    val t = Access.loadFolder(VPath("/Inputs"), Seq(
      VirtualFile(VPath("/users"), Seq("parquet"), Usage.Source),
      VirtualFile(VPath("/items"), Seq("parquet"), Usage.Source)))
    assert(t.requirements.paths.map(_.toString).toSet ==
      Set("/Inputs/users", "/Inputs/items"))
    val m = Mappings(Map(
      VPath("/Inputs/users") ->
        MappingRhs.Layers(Seq(LocTemplate(s"$base/users.parquet"))),
      VPath("/Inputs/items") ->
        MappingRhs.Layers(Seq(LocTemplate(s"$base/items.parquet")))))
    val dfs = Pipeline.run(spark, t, m, ())
    assert(dfs.keySet == Set("users", "items"))
    assert(dfs("users").head().getString(1) == "a")
    assert(dfs("items").head().getString(1) == "b")
  }

  test("zipByIndex pairs rows in order (example2 zipWith analog)") {
    import spark.implicits._
    val a = Seq("x", "y", "z").toDF("l").coalesce(1)
    val b = Seq(10, 20, 30).toDF("r").coalesce(1)
    val z = graft.rep.Streams.zipByIndex(a, b)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(z.sortBy(_._2) == Seq(("x", 10), ("y", 20), ("z", 30)))
    intercept[IllegalArgumentException](
      graft.rep.Streams.zipByIndex(a, a))
  }

  test("cachedTaskAndWrite: skip when unbound, memoize when bound") {
    var computes = 0
    val base = scratch("ctw")
    val vf = VirtualFile(VPath("/Outputs/rpt"), Seq("parquet"), Usage.Sink)
    val t = PTask.cachedTaskAndWrite[Int](vf, "rpt", (_, n) => Seq(n.toString)) {
      (ctx, n) =>
        computes += 1
        ctx.spark.read.parquet(s"$sf/region.parquet").limit(n)
    }
    // unbound sink -> compute skipped entirely
    Pipeline.run(spark, t, Mappings.empty, 3, cacheRoot = Some(s"$base/memo"))
    assert(computes == 0)
    // bound sink -> compute + write; second run hits the memo
    val m = Mappings(Map(VPath("/Outputs/rpt") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$base/rpt.parquet")))))
    Pipeline.run(spark, t, m, 3, cacheRoot = Some(s"$base/memo"))
    assert(computes == 1)
    assert(spark.read.parquet(s"$base/rpt.parquet").count() == 3)
    Pipeline.run(spark, t, m, 3, cacheRoot = Some(s"$base/memo"))
    assert(computes == 1, "memo hit must skip recompute")
  }

  test("getDataReader/getDataWriter reify paths + closures") {
    import spark.implicits._
    val base = scratch("reified")
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$base/in.parquet")
    val src = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source)
    val snk = VirtualFile(VPath("/out"), Seq("parquet"), Usage.Sink)
    val m = Mappings(Map(
      VPath("/in") -> MappingRhs.Layers(Seq(LocTemplate(s"$base/in.parquet"))),
      VPath("/out") -> MappingRhs.Layers(Seq(LocTemplate(s"$base/out.parquet")))))
    val (rd, wr) = Pipeline.run(spark,
      Access.getDataReader(src) &&& Access.getDataWriter(snk), m, ())
    assert(rd.paths == Seq(s"$base/in.parquet"))
    assert(wr.paths == Seq(s"$base/out.parquet"))
    wr.write(rd.read())
    assert(spark.read.parquet(s"$base/out.parquet").count() == 1)
  }

  test("compressed write: .json.gz sink round-trips through the engine") {
    import spark.implicits._
    val base = scratch("gzwrite")
    val vf = VirtualFile(VPath("/out"), Seq("json"), Usage.Sink)
    val m = Mappings(Map(VPath("/out") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$base/out.json.gz")))))
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    Pipeline.run(spark, Access.writeData(vf), m, df)
    // part files must actually be gzip-compressed
    val parts = new java.io.File(s"$base/out.json.gz").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".gz")))
    val back = spark.read.json(s"$base/out.json.gz")
    assert(back.count() == 2)
  }

  test("zlib-wrapped text (gz codec) reads transparently") {
    val base = scratch("gz")
    new java.io.File(base).mkdirs()
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$base/doc.txt.gz"))
    gz.write("line one\nline two\n".getBytes("UTF-8")); gz.close()
    val vf = VirtualFile(VPath("/t"), Seq("txt"), Usage.Source)
    val m = Mappings(Map(VPath("/t") ->
      MappingRhs.Layers(Seq(LocTemplate(s"$base/doc.txt.gz")))))
    // .gz is a compression suffix: format dispatch + validation both
    // see the data extension (txt) and Hadoop decompresses on read
    val df = Pipeline.run(spark, Access.loadData(vf), m, ())
    assert(df.count() == 2)
  }
  test("yaml format round-trips: write then read back the same rows") {
    import spark.implicits._
    val path = graft.Scratch.root + "/roundtrip.yaml"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    graft.serial.Formats("yaml").write(df, path)
    val back = graft.serial.Formats("yaml")
      .read(spark, Seq(path), None)
      .select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "b")))
  }

  test("writeShardedBalanced: big partition splits into ~target-" +
       "sized shards, small partition stays one file") {
    import spark.implicits._
    val base = scratch("sharded")
    // source A: 100 rows x 1000 bytes = ~100 KB; source B: 2 rows
    val df = ((1 to 100).map(i => (i.toLong, "A", "x" * 1000)) ++
      Seq((200L, "B", "y"), (201L, "B", "z")))
      .toDF("id", "source", "payload")
    val plan = graft.access.Access.writeShardedBalanced(df,
      s"$base/out", "source", length(col("payload")),
      targetBytes = 20000L)   // ~100KB/20KB -> 5 shards for A
    val pm = plan.map(p => p._1 -> p._3).toMap
    assert(pm("A") == 5 && pm("B") == 1, s"$plan")
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(s"$base/out/source=A") == 5,
      s"A must land as 5 shard files, got ${files(s"$base/out/source=A")}")
    assert(files(s"$base/out/source=B") == 1)
    // content survives the reshard
    val back = spark.read.parquet(s"$base/out")
    assert(back.count() == 102 &&
      back.filter(col("source") === "B").count() == 2)
  }

  test("orc format round-trips: write (zlib codec + partitioned) then " +
       "read back the same rows") {
    import spark.implicits._
    val base = scratch("orc")
    val df = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"))
      .toDF("id", "name", "k")
    graft.serial.Formats("orc").write(df, s"$base/flat.orc", Some("zlib"))
    val back = graft.serial.Formats("orc")
      .read(spark, Seq(s"$base/flat.orc"), None)
      .select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // partitioned sink honors the declared format: k=<v>/ subdirs of orc
    graft.serial.Formats("orc")
      .writePartitioned(df, s"$base/part.orc", "k", None)
    assert(new java.io.File(s"$base/part.orc/k=x").exists())
    val part = spark.read.orc(s"$base/part.orc")
    assert(part.count() == 3 &&
      part.filter(col("k") === "y").count() == 1)
  }

  test("Pins: unmanaged split shorthands register their pin; release " +
       "drops the cached parent") {
    import spark.implicits._
    val spark0 = spark
    graft.cache.Pins.release(spark0) // clean slate
    val df = (1 to 100).toDF("n")
    val (hi, lo) = graft.access.Split.splitEither(df, col("n") > 50)
    assert(hi.count() == 50 && lo.count() == 50)
    assert(graft.cache.Pins.trackedCount(spark0) == 1)
    val storageBefore = spark0.sparkContext.getPersistentRDDs.size
    assert(storageBefore >= 1, "split parent must be persisted")
    assert(graft.cache.Pins.release(spark0) == 1)
    assert(graft.cache.Pins.trackedCount(spark0) == 0)
    assert(spark0.sparkContext.getPersistentRDDs.size < storageBefore)
    // release with nothing tracked is a no-op
    assert(graft.cache.Pins.release(spark0) == 0)
  }

  test("Star.invalidate: an in-process parquet overwrite is visible " +
       "after invalidation") {
    import spark.implicits._
    val base = scratch("starinv")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$base/things.parquet")
    val first = graft.queries.Star.table(spark, base, "things")
    assert(first.count() == 1)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$base/things.parquet")
    graft.queries.Star.invalidate(base)
    assert(graft.queries.Star.table(spark, base, "things").count() == 3)
    // clearCache drops EVERY dir's cached relation — the next read
    // re-lists and still sees the overwrite
    graft.queries.Star.clearCache()
    assert(graft.queries.Star.table(spark, base, "things").count() == 3)
  }

  // ---- S3 accessor live path, against an in-JVM s3a FileSystem ----
  // (reference parity: porcupine-s3 TaskPipelineUtils.hs:77-175 —
  // upload/download/streamS3Folder through the accessor registry)

  private def withMockS3[T](name: String)(body: String => T): T =
    MockS3FileSystem.withBucket(spark, scratch(name))(body)

  test("s3 accessor: scheme dispatch + writeData/loadData round-trip " +
       "through s3a:// locations") {
    import spark.implicits._
    withMockS3("s3rt") { s3 =>
      // accessor dispatch: s3a is a supported scheme once registered
      assert(graft.access.Schemes.isSupported(spark, s"$s3/x.parquet"))
      // the conf surface actually landed in the session
      val hconf = spark.sparkContext.hadoopConfiguration
      assert(hconf.get("fs.s3a.endpoint") == "http://localhost:0")
      assert(hconf.get("fs.s3a.path.style.access") == "true")
      val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
        .toDF("id", "name")
      val snk = VirtualFile(VPath("/out"), Seq("parquet"), Usage.Sink)
      val wm = Mappings(Map(VPath("/out") ->
        MappingRhs.Layers(Seq(LocTemplate(s"$s3/out.parquet")))))
      Pipeline.run(spark, Access.writeData(snk), wm, df)
      val src = VirtualFile(VPath("/in"), Seq("parquet"), Usage.Source)
      val rm = Mappings(Map(VPath("/in") ->
        MappingRhs.Layers(Seq(LocTemplate(s"$s3/out.parquet")))))
      val back = Pipeline.run(spark, Access.loadData(src), rm, ())
      assert(back.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    }
  }

  test("s3 accessor: streamS3Folder analog lists s3a objects " +
       "recursively with s3a paths") {
    import spark.implicits._
    withMockS3("s3ls") { s3 =>
      Seq(1L).toDF("a").write.parquet(s"$s3/folder/one.parquet")
      Seq(2L).toDF("a").write.json(s"$s3/folder/sub/two.json")
      val listed = Access.listFolder(spark, s"$s3/folder")
        .select("path").as[String].collect()
      assert(listed.nonEmpty && listed.forall(
        _.startsWith("s3a://graft-test-bucket/")))
      assert(listed.exists(_.contains("/sub/")), listed.mkString("\n"))
    }
  }

  test("s3 accessor: remote memo dir — cachedTask memoizes through an " +
       "s3a cache root") {
    withMockS3("s3memo") { s3 =>
      var computes = 0
      val t = PTask.cachedTask[Int]("s3ct", (_, n) => Seq(n.toString)) {
        (ctx, n) =>
          computes += 1
          ctx.spark.read.parquet(s"$sf/region.parquet").limit(n)
      }
      val r1 = Pipeline.run(spark, t, Mappings.empty, 2,
        cacheRoot = Some(s"$s3/memo"))
      val r2 = Pipeline.run(spark, t, Mappings.empty, 2,
        cacheRoot = Some(s"$s3/memo"))
      assert(computes == 1, "second run must hit the s3a memo")
      assert(r1.count() == 2 && r2.count() == 2)
    }
  }

}
