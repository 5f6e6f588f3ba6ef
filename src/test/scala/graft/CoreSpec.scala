package graft

import graft.model._
import graft.loc._
import graft.serial._
import org.scalatest.funsuite.AnyFunSuite

/** Pure-core unit tests (no SparkSession): catalog laws, mapping
  * resolution, templating, YAML/JSON config parsing — mirrors the
  * reference's test surface (PTask.hs tests: identity, namespace,
  * subtree re-rooting; SURVEY §5). */
class CoreSpec extends AnyFunSuite {

  test("VPath parse/render round-trip") {
    assert(VPath("/Inputs/User").toString == "/Inputs/User")
    assert(VPath("Inputs/User") == VPath("/Inputs/User"))
    assert((VPath("/a") / "b").segments == Vector("a", "b"))
  }

  test("catalog merge is monoidal and detects schema clashes") {
    import org.apache.spark.sql.types._
    val a = VirtualFile(VPath("/x"), Seq("json"),
      schema = Some(StructType(Seq(StructField("i", IntegerType)))))
    val b = VirtualFile(VPath("/x"), Seq("csv"))
    val merged = Catalog.of(a) ++ Catalog.of(b)
    assert(merged(VPath("/x")).formats == Seq("json", "csv"))
    val clash = VirtualFile(VPath("/x"), Seq("json"),
      schema = Some(StructType(Seq(StructField("s", StringType)))))
    assertThrows[IllegalArgumentException](Catalog.of(a) ++ Catalog.of(clash))
  }

  test("loc template splice + expansion + default ext") {
    val t = LocTemplate("/data/User-{userId}.json")
    assert(t.variables == Seq("userId"))
    assert(t.splice(Map("userId" -> "7")).raw == "/data/User-7.json")
    assert(t.expand("userId", Seq("1", "2")).map(_.raw) ==
      Seq("/data/User-1.json", "/data/User-2.json"))
    assert(LocTemplate("/d/f").withDefaultExt("parquet").raw == "/d/f.parquet")
    assert(LocTemplate("/d/f.csv").withDefaultExt("parquet").raw == "/d/f.csv")
  }

  test("mapping inheritance: child defaults to parentDir/name.defaultExt") {
    val m = Mappings.root("/data")
    val r = m.layersFor(VPath("/Inputs/users"), "json")
    assert(r == Resolved.Bound(Seq(LocTemplate("/data/Inputs/users.json"))))
  }

  test("mapping shortcuts: explicit, inherit-with-suffix, unmapped, +=") {
    val m = Mappings.root("/data")
      .set(VPath("/Inputs/User"), MappingRhs.parse("_-{userId}.json"))
      .set(VPath("/debug/out"), MappingRhs.parse("null"))
      .addLayer(VPath("/Inputs/extra"), LocTemplate("/other/extra.csv"))
      .withVariable("userId", "42")
    assert(m.layersFor(VPath("/Inputs/User"), "json") ==
      Resolved.Bound(Seq(LocTemplate("/data/Inputs/User-42.json"))))
    assert(m.layersFor(VPath("/debug/out"), "json") == Resolved.Unbound)
    assert(m.layersFor(VPath("/Inputs/extra"), "csv") ==
      Resolved.Bound(Seq(LocTemplate("/other/extra.csv"))))
  }

  test("bind validates unbound required input and bad extension") {
    val cat = Catalog.of(VirtualFile(VPath("/in"), Seq("json"), Usage.Source))
    assertThrows[IllegalStateException](Mappings.empty.bind(cat))
    val badExt = Mappings.empty.set(VPath("/in"),
      MappingRhs.Layers(Seq(LocTemplate("/d/in.csv"))))
    assertThrows[IllegalStateException](badExt.bind(cat))
    val ok = Mappings.root("/d")
    assert(ok.bind(cat)(VPath("/in")) ==
      Resolved.Bound(Seq(LocTemplate("/d/in.json"))))
  }

  test("IndexRange syntax: ranges, lists, singletons") {
    import graft.rep.Repetition.parseIndexRange
    assert(parseIndexRange("0..3") == Seq("0", "1", "2", "3"))
    assert(parseIndexRange("[0..2, 5, 7..8]") ==
      Seq("0", "1", "2", "5", "7", "8"))
    assert(parseIndexRange("a,b") == Seq("a", "b"))
  }

  test("JSON parse/render round-trip") {
    val j = JValue.parse("""{"a": 1, "b": [true, null, "x\n"], "c": {"d": 2.5}}""")
    assert((j \ "a").contains(JNum(1)))
    assert((j \ "c").flatMap(_ \ "d").contains(JNum(2.5)))
    assert(JValue.parse(j.render) == j)
  }

  test("YAML subset: block maps, lists, inline flow, comments, quotes") {
    val y = Yaml.parse(
      """# job spec
        |variables: {folder: experiment1}
        |data:
        |  Settings: {users: "0..10"}
        |locations:
        |  /: porcupine-core/examples/data   # root mapping
        |  /Inputs/User: "_-{userId}.json"
        |  /Outputs/Analysis: [a.json, b.json]
        |  /debug/radon-filtered: null
        |list:
        |  - 1
        |  - two
        |  - k: v
        |""".stripMargin)
    assert((y \ "variables").flatMap(_ \ "folder").contains(JStr("experiment1")))
    assert((y \ "data").flatMap(_ \ "Settings").flatMap(_ \ "users")
      .contains(JStr("0..10")))
    val locs = (y \ "locations").get
    assert((locs \ "/").contains(JStr("porcupine-core/examples/data")))
    assert((locs \ "/Inputs/User").contains(JStr("_-{userId}.json")))
    assert((locs \ "/Outputs/Analysis").contains(
      JArr(Seq(JStr("a.json"), JStr("b.json")))))
    assert((locs \ "/debug/radon-filtered").contains(JNull))
    assert((y \ "list").contains(JArr(Seq(JNum(1), JStr("two"),
      JObj(Seq("k" -> JStr("v")))))))
  }

  test("PTask composition: identity, >>> , &&&, requirements merge") {
    import graft.task.PTask
    val idt = PTask.id[Int]
    val double = PTask.arr((i: Int) => i * 2)
    val toStr = PTask.arr((i: Int) => i.toString)
    val ctx = graft.task.RunCtx(null, Catalog.empty, Map.empty, Mappings.empty)
    assert(idt.run(ctx, 42) == 42)                      // prop_runnable_id
    assert((double >>> toStr).run(ctx, 21) == "42")
    assert((double &&& toStr).run(ctx, 3) == (6, "3"))
    assert((double *** toStr).run(ctx, (1, 2)) == (2, "2"))
    assert(double.tryTask.run(ctx, 5) == Right(10))
    val boom = PTask.arr((_: Int) => throw new RuntimeException("x"))
    assert(boom.tryTask.run(ctx, 1).isLeft)
    assert(boom.catchAndLog.run(ctx, 1).isEmpty)
  }

  test("&&& and *** run their branches concurrently") {
    import graft.task.{PTask, RunCtx}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val ctx = RunCtx(null, Catalog.empty, Map.empty, Mappings.empty)
    // each branch waits for the other: a sequential run times out
    def meet(l: CountDownLatch) = PTask.arr { (i: Int) =>
      l.countDown()
      assert(l.await(10, TimeUnit.SECONDS), "the branches did not overlap")
      i + 1
    }
    val fan = new CountDownLatch(2)
    assert((meet(fan) &&& meet(fan)).run(ctx, 1) == (2, 2))
    val prod = new CountDownLatch(2)
    assert((meet(prod) *** meet(prod)).run(ctx, (1, 5)) == (2, 6))
  }

  test("a failing fan-out branch is rethrown after its sibling " +
       "finished") {
    import graft.task.{PTask, RunCtx}
    val ctx = RunCtx(null, Catalog.empty, Map.empty, Mappings.empty)
    val boom = PTask.arr((_: Int) => throw new IllegalStateException("boom"))
    Seq(true, false).foreach { failLeft =>
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val slow = PTask.arr { (i: Int) => Thread.sleep(300); done.set(true); i }
      val runs: Seq[() => Any] = Seq(
        () => (if (failLeft) boom &&& slow else slow &&& boom).run(ctx, 1),
        () => (if (failLeft) boom *** slow else slow *** boom).run(ctx, (1, 1)))
      runs.foreach { run =>
        done.set(false)
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage == "boom" && done.get,
          s"failLeft=$failLeft: rethrown before the sibling finished")
      }
    }
  }

  test("parMapTask: a failing repetition is rethrown only after every " +
       "sibling finished; at most maxConcurrent run at once") {
    import graft.task.{PTask, RunCtx}
    import java.util.concurrent.atomic.AtomicInteger
    val ctx = RunCtx(null, Catalog.empty, Map.empty, Mappings.empty)
    val finished, running, peak = new AtomicInteger(0)
    val body = PTask.task { (c: RunCtx, ms: Int) =>
      if (ms == 0) throw new IllegalStateException(s"rep ${c.vars("i")}")
      peak.accumulateAndGet(running.incrementAndGet(),
        (a: Int, b: Int) => math.max(a, b))
      Thread.sleep(ms)
      running.decrementAndGet()
      finished.incrementAndGet()
      ms
    }
    val e = intercept[IllegalStateException](
      graft.rep.Repetition.parMapTask("i", body, maxConcurrent = 4)
        .run(ctx, Seq("0" -> 0, "1" -> 400, "2" -> 400)))
    assert(e.getMessage == "rep 0" && finished.get == 2,
      s"rethrown with ${finished.get} of 2 siblings finished")
    peak.set(0)
    val out = graft.rep.Repetition.parMapTask("i", body, maxConcurrent = 2)
      .run(ctx, (1 to 6).map(i => i.toString -> 50))
    assert(out == (1 to 6).map(i => i.toString -> 50) && peak.get <= 2)
  }

  test("task algebra utility faces: choice, void, throwTask, logMsg, " +
       "clocked, inNamespace, filterTask (PTask.hs / REP contracts)") {
    import graft.task.{PTask, RunCtx}
    val ctx = RunCtx(null, Catalog.empty, Map.empty, Mappings.empty)
    val double = PTask.arr((i: Int) => i * 2)
    val len = PTask.arr((s: String) => s.length)
    // choice routes by side and merges both requirement sets
    val ch = PTask.choice(double, len)
    assert(ch.run(ctx, Left(21)) == Left(42))
    assert(ch.run(ctx, Right("abc")) == Right(3))
    assert(PTask.void[Int].run(ctx, 7) == (()))
    // throwTask: Right passes through, Left raises its message
    assert(PTask.throwTask[Int].run(ctx, Right(5)) == 5)
    val e = intercept[RuntimeException](
      PTask.throwTask[Int].run(ctx, Left("boom")))
    assert(e.getMessage == "boom")
    // logMsg is Unit at every level and tags with the ctx namespace
    Seq("debug", "info", "warn", "error").foreach(l =>
      assert(PTask.logMsg(l).run(ctx.inNamespace("ns"), "m") == (())))
    // clocked pairs the result with a nonnegative wall-clock
    val (v, secs) = double.clocked.run(ctx, 4)
    assert(v == 8 && secs >= 0.0)
    assert(ctx.inNamespace("a").inNamespace("b").namespace
      .endsWith(Seq("a", "b")))
    // filterTask: boolean task as predicate, index var spliced in
    val pred = PTask.task((c: RunCtx, a: Int) =>
      a % 2 == 0 && c.vars.get("i").exists(_.nonEmpty))
    val kept = graft.rep.Repetition.filterTask("i", pred)
      .run(ctx, Seq("0" -> 1, "1" -> 2, "2" -> 4))
    assert(kept == Seq("1" -> 2, "2" -> 4))
  }

  test("config utility faces: flagName derivation, single-step spec " +
       "migration, VPath.isRoot, JValue.asArr") {
    import graft.config._
    assert(OptField("users.range", None).flagName == "--users-range")
    val doc = JValue.parse("""{"a":{"x":1}}""")
    assert(SpecMigration.applyStep(doc,
        SpecMigration.RenameKey(Seq("a"), "x", "y")) ==
      JValue.parse("""{"a":{"y":1}}"""))
    assert(SpecMigration.applyStep(doc,
        SpecMigration.RemoveKey(Seq("a"), "x")) ==
      JValue.parse("""{"a":{}}"""))
    assert(VPath.root.isRoot && !VPath("/a").isRoot)
    assert(JValue.parse("[1,2]").asArr.length == 2)
    assert(JValue.parse("{}").asArr.isEmpty)
    // OptValue JSON round-trip: toJson is the docrecords render face
    // (its only other by-name sites are same-named defs, which the
    // dark-faces gate rightly no longer counts as witnesses)
    val ov = OptList(Seq(OptStr("a"), OptNum(2), OptBool(true)))
    assert(OptValue.toJson(ov).render == """["a",2,true]""")
    assert(OptValue.fromJson(OptValue.toJson(ov)) == ov)
  }

  test("bench bands self-check: loadBands parses factor/floor/bands; " +
       "absent, corrupt, or bandless files mean no check (never fatal)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bands")
    val f = dir.resolve("bands.json")
    java.nio.file.Files.write(f,
      ("""{"tolerance_factor":1.5,"tolerance_floor_sec":0.25,""" +
        """"bands":{"q1":0.5,"q2":2.0}}""").getBytes("UTF-8"))
    val b = graft.Bench.loadBands(f.toString).get
    assert(b.factor == 1.5 && b.floor == 0.25 &&
      b.bands == Map("q1" -> 0.5, "q2" -> 2.0))
    // tolerance defaults (2x factor = the repo's regression bar,
    // 0.75 s floor) apply when the file carries bands only
    java.nio.file.Files.write(f,
      """{"bands":{"q1":1.0}}""".getBytes("UTF-8"))
    val d = graft.Bench.loadBands(f.toString).get
    assert(d.factor == 2.0 && d.floor == 0.75 &&
      d.bands == Map("q1" -> 1.0))
    assert(graft.Bench.loadBands(
      dir.resolve("absent.json").toString).isEmpty)
    java.nio.file.Files.write(f, "not json".getBytes("UTF-8"))
    assert(graft.Bench.loadBands(f.toString).isEmpty)
  }

  test("taskInSubtree re-roots requirements (reference PTask.hs:76-92)") {
    import graft.task.PTask
    val vf = VirtualFile(VPath("/c"), Seq("json"), Usage.Source)
    val t = graft.access.Access.loadData(vf).inSubtree(VPath("/a/b"))
    assert(t.requirements.paths == Seq(VPath("/a/b/c")))
  }

  test("inventory completeness: every query has an oracle and every " +
       "oracle has a query (no silent rows-only degradation)") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
  }

  test("query table: a name declared twice is refused, naming it, " +
       "also across tables joined with ++") {
    import graft.queries.{Query, QueryTable}
    def row(name: String) =
      Query(name, (s, _) => s.range(1).toDF(), "SELECT 1 AS id")
    val e = intercept[IllegalArgumentException] {
      QueryTable(row("q_a"), row("q_dup"), row("q_b"), row("q_dup"))
    }
    assert(e.getMessage.contains("q_dup"), e.getMessage)
    assert(!e.getMessage.contains("q_a"), e.getMessage)
    val joined = intercept[IllegalArgumentException] {
      QueryTable(row("q_a")) ++ QueryTable(row("q_b"), row("q_a"))
    }
    assert(joined.getMessage.contains("q_a"), joined.getMessage)
    val ok = QueryTable(row("q_a"), row("q_b"))
    assert(ok.queries.keySet == Set("q_a", "q_b"))
    assert(ok.oracleSql == Map("q_a" -> "SELECT 1 AS id",
      "q_b" -> "SELECT 1 AS id"))
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil
  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  // comment/scaladoc strip: block comments first (covers /** ... */),
  // then line comments — string literals keep their text, which can
  // only ever ADD witnesses (e.g. reflective dispatch tables), the
  // safe direction for a liveness gate
  private def strip(src: String): String = src
    .replaceAll("(?s)/\\*.*?\\*/", " ")
    .replaceAll("//[^\n]*", " ")

  test("one commit protocol: no .rename( call in src/main outside " +
       "llm/Swap.scala but the allowlisted create-once publishes") {
    // a rename that replaces layer content belongs in Swap, the one
    // crash-safe commit; each entry here is (file, enclosing member,
    // "" for the whole file) with the reason it is not a replace
    val allowed = Map(
      ("cache/Memo.scala", "") ->
        ("an atomic no-overwrite FileContext publish of a " +
          "content-addressed cache entry"),
      ("streaming/IngestStream.scala", "publishGeometry") ->
        ("the CMS _geometry.json publish: create-once, first writer " +
          "wins, not a replace; Swap's one tmp per root would let two " +
          "first publishers clear each other's staging"))
    val memberRe = "\n  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val root = "src/main/scala/graft/"
    val calls = walk(new java.io.File(root)).flatMap { f =>
      val rel = f.getPath.stripPrefix(root)
      val code = strip(read(f))
      "\\.rename\\(".r.findAllMatchIn(code).map { m =>
        (rel, memberRe.findAllMatchIn(code.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse(""))
      }
    }
    assert(calls.exists(_._1 == "llm/Swap.scala"))
    val stray = calls.filterNot { case (rel, member) =>
      rel == "llm/Swap.scala" || allowed.contains((rel, "")) ||
        allowed.contains((rel, member))
    }
    assert(stray.isEmpty, "renames outside Swap (commit through " +
      "graft.llm.Swap, or allowlist a create-once publish with its " +
      "reason):\n" + stray.map { case (r, m) => s"$r: $m" }.mkString("\n"))
  }

  test("no dark faces: every public operator face in graft main is " +
       "referenced by name, IN CODE, outside its defining file (a " +
       "face with zero external callers shipped unverified once — " +
       "never again)") {
    // The queries/oracle lockstep above machine-enforces REGISTERED
    // surfaces; this closes the other gap: a public library face
    // must be exercised by name from a spec, a registered query, a
    // harness main, or another module — by-name reference outside
    // the defining file is the cheap static witness. New faces land
    // with their caller or their spec, in the same commit. Witness
    // sources are stripped of comments and scaladoc first, so a
    // [[link]] or prose mention can never satisfy the gate. Mains'
    // entry points (`main`, CLI verb dispatch) are exempt: their
    // caller is the JVM / the driver contract, not another file.
    //
    // The operator library (`llm/`, `functions/`, `streaming/`) is
    // held to the stricter rule: a spec is not a caller there. A
    // public face needs a use in shipped code — `src/main` or the
    // bench harness — or a mention in the README "Using" block, the
    // library's front door. A spec-only seam is `private[graft]`.
    val sources = walk(new java.io.File("src")).map(f => f.getPath -> read(f))
    val gated = sources.filter(_._1.contains("main/scala/graft/"))
    val stripped = sources.map { case (p, s) => p -> strip(s) }
    val shipped = stripped.filter(_._1.startsWith("src/main/")) ++
      walk(new java.io.File("bench")).map(f => f.getPath -> strip(read(f)))
    val library = Seq("llm", "functions", "streaming")
      .map(d => s"main/scala/graft/$d/")
    val using = "(?s)\n## Using\n(.*?)\n## ".r
      .findFirstMatchIn(read(new java.io.File("README.md")))
      .fold("")(_.group(1))
    val defRe = "\n  def (\\w+)[\\(\\[:]".r
    val dark = gated.flatMap { case (path, src) =>
      val isLib = library.exists(path.contains)
      val others = (if (isLib) shipped else stripped)
        .filter(_._1 != path).map(_._2)
      defRe.findAllMatchIn(strip(src)).map(_.group(1)).distinct
        .filterNot(_ == "main")
        .filterNot { name =>
          // a witness must be a USE: another file merely DEFINING a
          // def of the same name is not a caller, so definition
          // sites are stripped from witness texts before matching —
          // two unrelated same-named faces can no longer mask each
          // other
          val use = ("""\b""" + name + """\b""").r
          val defSite = ("""\bdef\s+""" + name + """\b""").r
          (isLib && use.findFirstIn(using).isDefined) ||
          others.exists(o =>
            use.findFirstIn(defSite.replaceAllIn(o, " ")).isDefined)
        }
        .map(name => s"$path: $name")
    }
    assert(dark.isEmpty,
      s"public faces with no external by-name reference (in llm/, " +
        "functions/ and streaming/: none outside the specs):\n" +
        dark.mkString("\n"))
  }
}
