package graft

import graft.config._
import graft.loc.{LocTemplate, MappingRhs, Resolved}
import graft.model.VPath
import graft.serial._
import org.scalatest.funsuite.AnyFunSuite

/** Job-spec / options / CLI-override semantics (reference CLI.hs,
  * ConfigurationReader.hs, OptParse.hs). */
class ConfigSpec extends AnyFunSuite {

  val specYaml =
    """variables: {folder: exp1}
      |data:
      |  minPrice: 1000
      |  users: "0..4"
      |locations:
      |  /: /data/{folder}
      |  /Inputs/User: "_-{userId}.json"
      |  /Outputs/Analysis: [/out/a.json, /out/b.json]
      |  /debug/tmp: null
      |""".stripMargin

  test("spec parse: variables, data, locations with all rhs forms") {
    val spec = JobSpec.parse(specYaml)
    assert(spec.variables == Map("folder" -> "exp1"))
    assert((spec.data \ "minPrice").contains(JNum(1000)))
    assert(spec.mappings.layersFor(VPath("/orders"), "parquet") ==
      Resolved.Bound(Seq(LocTemplate("/data/exp1/orders.parquet"))))
    assert(spec.mappings.layersFor(VPath("/Outputs/Analysis"), "json") ==
      Resolved.Bound(Seq(LocTemplate("/out/a.json"), LocTemplate("/out/b.json"))))
    assert(spec.mappings.layersFor(VPath("/debug/tmp"), "json") ==
      Resolved.Unbound)
  }

  test("inherit-with-suffix splices repetition vars at run time") {
    val spec = JobSpec.parse(specYaml)
    val bound = spec.mappings
      .withVariable("userId", "7")
      .layersFor(VPath("/Inputs/User"), "json")
    assert(bound == Resolved.Bound(
      Seq(LocTemplate("/data/exp1/Inputs/User-7.json"))))
  }

  test("CLI overrides: --loc replace and += layer, --var, -o (priority CLI > file)") {
    val spec = JobSpec.parse(specYaml).withCliArgs(Seq(
      "--loc", "/Outputs/Analysis=/other/only.json",
      "--loc", "/Inputs/extra+=/more/x.csv",
      "--var", "folder=exp2",
      "-o", "minPrice=2500"))
    assert(spec.mappings.layersFor(VPath("/Outputs/Analysis"), "json") ==
      Resolved.Bound(Seq(LocTemplate("/other/only.json"))))
    assert(spec.mappings.layersFor(VPath("/Inputs/extra"), "csv") ==
      Resolved.Bound(Seq(LocTemplate("/more/x.csv"))))
    assert(spec.mappings.layersFor(VPath("/orders"), "parquet") ==
      Resolved.Bound(Seq(LocTemplate("/data/exp2/orders.parquet"))))
    assert((spec.data \ "minPrice").contains(JNum(2500)))
  }

  test("options resolve with priority Default < SpecFile < Cli") {
    val schema = OptionsSchema(Seq(
      OptField("minPrice", Some(OptNum(0)), "floor"),
      OptField("users", Some(OptStr("0..1")), "range"),
      OptField("tag", None, "required tag")))
    val spec = JobSpec.parse(specYaml)
    val r1 = schema.resolve(Some(spec.data), Nil)
    assert(r1("minPrice") == ((OptNum(1000), OptSource.SpecFile)))
    assert(r1("users") == ((OptStr("0..4"), OptSource.SpecFile)))
    val r2 = schema.resolve(Some(spec.data), Seq("--minPrice", "99"))
    assert(r2("minPrice") == ((OptNum(99), OptSource.Cli)))
    assertThrows[IllegalArgumentException](
      schema.resolveStrict(Some(spec.data), Nil)) // tag missing
    val r3 = schema.resolveStrict(Some(spec.data), Seq("--tag", "x"))
    assert(r3("tag") == OptStr("x"))
  }

  test("spec render round-trips through parse") {
    val spec = JobSpec.parse(specYaml)
    val again = JobSpec.parse(spec.render)
    assert(again.variables == spec.variables)
    assert(again.mappings.bindings == spec.mappings.bindings)
  }

  test("orders_report pipeline runs end-to-end from a spec") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val out = graft.Scratch.root + "/cli_report"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val spec = JobSpec.parse(
      s"""data: {minPrice: 100000}
         |locations:
         |  /orders: /root/testdata/sf0.001/orders.parquet
         |  /Outputs/report: $out/report.parquet
         |""".stripMargin)
    val reg = CLI.registry("orders_report")
    val opts = reg.options.resolveStrict(Some(spec.data), Nil)
    val task = reg.build(spark, opts)
    Pipeline.run(spark, task.asInstanceOf[graft.task.PTask[Unit, Any]],
      spec.mappings, ())
    val back = spark.read.parquet(s"$out/report.parquet")
    assert(back.count() > 0)
    assert(back.columns.toSet == Set("o_orderstatus", "n", "total"))
  }

  test("CLI walkthrough golden: write-config-template → show-tree -m " +
       "→ run → save (README sequence)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_walkthrough"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    def captured(args: String*): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        CLI.run(args.toArray, spark)
      }
      bos.toString("UTF-8")
    }
    // 1. template: every required endpoint unmapped, defaults inline
    val template = captured("orders_report", "write-config-template")
    assert(template.trim ==
      """{"variables":{},"data":{"minPrice":0},"locations":{"/Outputs/report":"_","/orders":"_"}}""")
    // 2. bind endpoints, inspect the resolved tree pre-run
    val specFile = s"$base/orders.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {minPrice: 100000}
         |locations:
         |  /orders: /root/testdata/sf0.001/orders.parquet
         |  /Outputs/report: $base/report.parquet
         |""".stripMargin)
    val tree = captured("orders_report", "show-tree", specFile, "-m", "-a")
    assert(tree.trim ==
      s"""/Outputs/report [w]
         |  mapped to: $base/report.parquet
         |  usable as: sink
         |  extensions: parquet, csv
         |  accessed with: write (parquet)
         |/orders [r]
         |  mapped to: /root/testdata/sf0.001/orders.parquet
         |  usable as: source
         |  extensions: parquet
         |  accessed with: read (parquet)""".stripMargin, tree)
    // 3. run with a CLI override on top of the spec
    val ran = captured("orders_report", "run", specFile,
      "-o", "minPrice=150000")
    assert(ran.contains("[orders_report] done"))
    assert(spark.read.parquet(s"$base/report.parquet").count() > 0)
    // 4. persist the spec-with-overrides
    captured("orders_report", "save", specFile, "-o", "minPrice=150000",
      s"$base/saved.yaml")
    val saved = JobSpec.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/saved.yaml")))
    assert((saved.data \ "minPrice").contains(JNum(150000)))
    assert(saved.mappings.layersFor(VPath("/orders"), "parquet") ==
      Resolved.Bound(
        Seq(LocTemplate("/root/testdata/sf0.001/orders.parquet"))))
  }

  test("example2 port: indexed stock load → sliding average → CSV " +
       "sink, end-to-end from a YAML spec") {
    // reference examples/example2/Example2.hs:40-63: a fixed index
    // list ["aapl","fb","googl"] -> loadDataList "company" of
    // Stock-{company}.json -> 10-step forward sliding average of the
    // close prices -> one CSV sink. Spark shape: ONE multi-path
    // indexed scan, the sliding average as a rows-bounded window per
    // company (short tail windows included, matching msliding), and
    // the curve matrix written in long (company, t, avg10) form.
    import graft.access.Access
    import graft.model.{Usage, VirtualFile}
    import graft.task.PTask
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    val spark = SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/example2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(s"$base/Inputs").mkdirs()
    val closes = Map(
      "aapl" -> (1 to 12).map(_.toDouble),
      "fb" -> (1 to 12).map(i => (i * 2).toDouble),
      "googl" -> (1 to 12).map(i => 100.0 - i))
    closes.foreach { case (c, xs) =>
      val chart = xs.zipWithIndex.map { case (v, i) =>
        s"""{"date":"2019-01-${i + 1}","close":$v}"""
      }.mkString("[", ",", "]")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$base/Inputs/Stock-$c.json"),
        s"""{"chart":$chart}""")
    }
    val spec = JobSpec.parse(
      s"""locations:
         |  /Inputs/Stock: "$base/Inputs/Stock-{company}.json"
         |  /Outputs/globalData: $base/Outputs/globalData.csv
         |""".stripMargin)
    val stockVf =
      VirtualFile(VPath("/Inputs/Stock"), Seq("json"), Usage.Source)
    val sinkVf =
      VirtualFile(VPath("/Outputs/globalData"), Seq("csv"), Usage.Sink)
    val smooth: DataFrame => DataFrame = df => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("company").orderBy("t").rowsBetween(0, 9)
      df.select(col("company"), posexplode(col("chart")).as(Seq("t", "day")))
        .select(col("company"), col("t"), col("day.close").as("close"))
        .withColumn("avg10", avg("close").over(w))
        .select("company", "t", "avg10")
    }
    val task = PTask.const(Seq("aapl", "fb", "googl")) >>>
      Access.loadIndexed(stockVf, "company", indexCol = "company") >>>
      PTask.arr(smooth) >>>
      Access.writeData(sinkVf)
    Pipeline.run(spark, task, spec.mappings, ())
    // golden: the reference's msliding — forward windows of ≤10 from
    // every position — mirrored in plain Scala over the same inputs
    def msliding(xs: Seq[Double]): Seq[Double] =
      xs.tails.filter(_.nonEmpty).map(t => t.take(10))
        .map(ws => ws.sum / ws.size).toSeq
    val back = spark.read.option("header", "true")
      .csv(s"$base/Outputs/globalData.csv")
      .collect()
      .map(r => (r.getString(0), r.getString(1).toInt,
        r.getString(2).toDouble))
      .groupBy(_._1)
      .view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(back.keySet == closes.keySet)
    closes.foreach { case (c, xs) =>
      val want = msliding(xs)
      val got = back(c)
      assert(got.size == want.size, s"$c curve length")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"$c: $got vs $want")
      }
    }
    // ...and the zip-of-two-sources form of the same user code: pair
    // two loaded curves ordinally (reference zipWith over streams)
    val Seq(a, f) = Seq("aapl", "fb").map { c =>
      val df = spark.read.json(s"$base/Inputs/Stock-$c.json")
      smooth(df.withColumn("company", lit(c)))
        .orderBy("t")
        .select(col("avg10").as(s"avg_$c"))
    }
    val zipped = graft.rep.Streams.zipByIndex(a, f)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(zipped.length == 12)
    val wantPairs = msliding(closes("aapl")).zip(msliding(closes("fb")))
    assert(zipped.sortBy(_._1).zip(wantPairs).forall {
      case ((ga, gf), (wa, wf)) =>
        math.abs(ga - wa) < 1e-9 && math.abs(gf - wf) < 1e-9
    })
  }

  test("options virtual file: external yaml layer under data:, CLI on top") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_optfile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    // external option file sets a very high minPrice -> few rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/opts.yaml"), "minPrice: 400000\n")
    val specTxt =
      s"""locations:
         |  /orders: /root/testdata/sf0.001/orders.parquet
         |  /Outputs/report: $base/report.parquet
         |  /Options/orders_report: $base/opts.yaml
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/spec.yaml"), specTxt)
    CLI.run(Array("orders_report", "run", s"$base/spec.yaml"), spark)
    val highCut = spark.read.parquet(s"$base/report.parquet")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    // CLI -o beats the option file: minPrice back to 0 -> all orders
    CLI.run(Array("orders_report", "run", s"$base/spec.yaml",
      "-o", "minPrice=0"), spark)
    val noCut = spark.read.parquet(s"$base/report.parquet")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(highCut < noCut, s"file layer must gate rows: $highCut vs $noCut")
  }

  test("radon_summary (example-radon port): CSV load → debug copy → " +
       "one-pass foldSummary+moments → forward samples, from a YAML " +
       "spec") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/radon"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    // reference data/radon.csv shape, cut to the columns the example
    // reads (state, county, basement, log_radon)
    val withB = Seq(1.0, 1.1, 0.9, 1.2, 0.8)    // mean 1.0, sd_pop .1414
    val withoutB = Seq(0.0, 0.2, -0.2)          // mean 0.0, sd_pop .1633
    val rows =
      withB.zipWithIndex.map { case (v, i) =>
        val county = Seq("AITKIN", "BELTRAMI", "CASS")(i % 3)
        s"MN,$county,Y,$v"
      } ++ withoutB.map(v => s"WI,DANE,N,$v")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/radon.csv"),
      "state,county,basement,log_radon\n" + rows.mkString("\n") + "\n")
    val spec = JobSpec.parse(
      s"""data: {nsamples: 400}
         |locations:
         |  /data/radon: "$base/radon.csv"
         |  /debug/radon-filtered: "$base/debug/radon-filtered.csv"
         |  /viz/summary: "$base/viz/summary.json"
         |  /viz/forward: "$base/viz/forward.json"
         |""".stripMargin)
    val reg = CLI.registry("radon_summary")
    val opts = reg.options.resolveStrict(Some(spec.data), Nil)
    val task = reg.build(spark, opts)
    Pipeline.run(spark, task.asInstanceOf[graft.task.PTask[Unit, Any]],
      spec.mappings, ())
    // debug sink holds the observations unchanged
    val back = spark.read.option("header", "true")
      .csv(s"$base/debug/radon-filtered.csv")
    assert(back.count() == 8)
    assert(back.columns.toSet ==
      Set("state", "county", "basement", "log_radon"))
    // foldSummary golden (ExampleRadon.hs:76-79) + the moment fields
    val s = spark.read.json(s"$base/viz/summary.json").head()
    assert(s.getAs[Long]("num_rows") == 8L)
    assert(s.getAs[scala.collection.Seq[String]]("unique_states").toSeq ==
      Seq("MN", "WI"))
    assert(s.getAs[Long]("num_unique_counties") == 4L)
    def close(a: Double, b: Double, tol: Double = 1e-6) =
      math.abs(a - b) < tol
    assert(close(s.getAs[Double]("rate_with_b"), 5.0 / 8.0))
    assert(close(s.getAs[Double]("radon_with_b"), 1.0))
    assert(close(s.getAs[Double]("radon_without_b"), 0.0))
    assert(close(s.getAs[Double]("noise_with_b"),
      math.sqrt(0.02), 1e-4))
    assert(close(s.getAs[Double]("noise_without_b"),
      math.sqrt(0.08 / 3.0), 1e-4))
    assert(s.getAs[String]("viz_size") == "400x400")
    // forward draws: nsamples rows from the fitted two-group model —
    // deterministic (hash-seeded), so the sample moments sit tight on
    // the fitted params
    val fw = spark.read.json(s"$base/viz/forward.json")
    assert(fw.count() == 400L)
    val frac = fw.filter(org.apache.spark.sql.functions.col(
      "has_basement")).count().toDouble / 400.0
    assert(math.abs(frac - 0.625) < 0.1, s"basement rate $frac")
    val mB = fw.filter("has_basement")
      .agg(org.apache.spark.sql.functions.avg("log_radon")).head()
      .getDouble(0)
    val mN = fw.filter("NOT has_basement")
      .agg(org.apache.spark.sql.functions.avg("log_radon")).head()
      .getDouble(0)
    assert(math.abs(mB - 1.0) < 0.05, s"with-basement mean $mB")
    assert(math.abs(mN - 0.0) < 0.05, s"without-basement mean $mN")
  }

  test("user_analysis (example1 port): templated read/write per index") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import spark.implicits._
    val base = graft.Scratch.root + "/cli_users"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // plant User-{i}.json inputs (fixture shape per FIXTURES.md A.1)
    Seq(("Lucky", "Luke", 32), ("Jolly", "Jumper", 9)).zipWithIndex.foreach {
      case ((n, s, a), i) =>
        Seq((n, s, a)).toDF("userName", "userSurname", "userAge")
          .write.mode("overwrite").json(s"$base/Inputs/User-$i.json")
    }
    val spec = JobSpec.parse(
      s"""data: {users: "0..1"}
         |locations:
         |  /: $base
         |  /Inputs/User: "_-{userId}.json"
         |  /Outputs/Analysis: "_-{userId}.json"
         |""".stripMargin)
    val reg = CLI.registry("user_analysis")
    val opts = reg.options.resolveStrict(Some(spec.data), Nil)
    val task = reg.build(spark, opts)
    Pipeline.run(spark, task.asInstanceOf[graft.task.PTask[Unit, Any]],
      spec.mappings, ())
    val a0 = spark.read.json(s"$base/Outputs/Analysis-0.json")
    val a1 = spark.read.json(s"$base/Outputs/Analysis-1.json")
    // "luckyluke": l:2,u:2,k:2,c:1,y:1,e:1
    val hist0 = a0.collect().map(r =>
      r.getAs[String]("letter") -> r.getAs[Long]("n")).toMap
    assert(hist0("l") == 2 && hist0("u") == 2 && hist0("k") == 2)
    assert(a1.count() > 0)
  }

  test("boolean flags: bare --flag true, --no-flag false, unknown keys warn") {
    import graft.config._
    import graft.serial._
    val schema = OptionsSchema(Seq(
      OptField("dryRun", Some(OptBool(false)), "no writes"),
      OptField("p.x", Some(OptNum(1)), "")))
    assert(schema.resolve(None, Seq("--dryRun"))("dryRun")._1 == OptBool(true))
    assert(schema.resolve(None,
      Seq("--dryRun", "--no-dryRun"))("dryRun")._1 == OptBool(false))
    assert(schema.resolve(None, Nil)("dryRun")._1 == OptBool(false))
    val unknown = schema.unknownKeys(JObj(Seq(
      "p" -> JObj(Seq("x" -> JNum(2), "typo" -> JNum(3))),
      "dryRun" -> JBool(true))))
    assert(unknown == Seq("p.typo"))
  }

  test("type-change warnings: overrides that change a declared " +
       "value's type warn; same-type overrides stay silent") {
    import graft.config._
    import graft.serial._
    val schema = OptionsSchema(Seq(
      OptField("batches", Some(OptNum(2)), ""),
      OptField("kind", Some(OptStr("bm25")), ""),
      OptField("dryRun", Some(OptBool(false)), "")))
    // CLI string where a number was declared (the config-typo class)
    val w1 = schema.typeChangeWarnings(None, Seq("--batches", "two"))
    assert(w1.size == 1 && w1.head.contains("'batches'") &&
      w1.head.contains("a number") && w1.head.contains("a string"), w1)
    // same-type overrides: silent
    assert(schema.typeChangeWarnings(None,
      Seq("--batches", "5", "--kind", "ivf")).isEmpty)
    // spec-layer change: number where a string was declared
    val w2 = schema.typeChangeWarnings(
      Some(JObj(Seq("kind" -> JNum(3)))), Nil)
    assert(w2.size == 1 && w2.head.contains("'kind'") &&
      w2.head.contains("spec"), w2)
    // chain: spec changes the type, CLI changes it back — BOTH
    // steps warn (each override is checked against what it replaces)
    val w3 = schema.typeChangeWarnings(
      Some(JObj(Seq("kind" -> JNum(3)))), Seq("--kind", "ivf"))
    assert(w3.size == 2, w3)
    // boolean shorthands against a declared bool: silent
    assert(schema.typeChangeWarnings(None, Seq("--dryRun")).isEmpty)
    assert(schema.typeChangeWarnings(None, Seq("--no-dryRun")).isEmpty)
    // resolution itself is unchanged by the warning
    assert(schema.resolve(None, Seq("--batches", "two"))("batches")._1
      == OptStr("two"))
  }

  test("spec migration: rename, default, nest, map (RecBijection family)") {
    import graft.config.SpecMigration._
    import graft.serial._
    val old = JObj(Seq(
      "params" -> JObj(Seq("minprice" -> JNum(100), "legacy" -> JBool(true))),
      "top" -> JStr("x")))
    val migrated = migrate(old, Seq(
      RenameKey(Seq("params"), "minprice", "minPrice"),
      AddConst(Seq("params"), "maxPrice", JNum(9999)),
      AddConst(Seq("params"), "minPrice", JNum(-1)),   // present: no-op
      RemoveKey(Seq("params"), "legacy"),
      NestUnder(Nil, "top", "nested"),
      MapValue(Seq("params"), "minPrice",
        { case JNum(n) => JNum(n * 2); case v => v })))
    val params = (migrated \ "params").get
    assert((params \ "minPrice").contains(JNum(200)))
    assert((params \ "maxPrice").contains(JNum(9999)))
    assert((params \ "minprice").isEmpty && (params \ "legacy").isEmpty)
    assert((migrated \ "nested").flatMap(_ \ "top").contains(JStr("x")))
  }

  test("logging flags: level + format applied and stripped from args") {
    import graft.config.Logging
    val rest = Logging.applyFlags(Seq("orders_report", "--log-level", "warn",
      "run", "--log-format", "compact", "-o", "x=1"))
    assert(rest == Seq("orders_report", "run", "-o", "x=1"))
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    assert(root.getLevel == org.apache.logging.log4j.Level.WARN)
    val name = Logging.setFormat("json")
    assert(root.getAppenders.containsKey(name))
    intercept[IllegalArgumentException](Logging.setFormat("nope"))
    Logging.setLevel("info")
  }

  test("every registered pipeline builds from schema defaults with a " +
       "non-empty requirement tree and a renderable template") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    CLI.pipelines.foreach { case (name, reg) =>
      val opts = reg.options.resolve(None, Nil)
        .map { case (k, (v, _)) => k -> v }
      val task = reg.build(spark, opts)
      assert(task.requirements.paths.nonEmpty,
        s"$name: empty requirement tree")
      assert(reg.options.templateJson.render.nonEmpty,
        s"$name: template must render")
    }
    // the round-12 pipelines declare their virtual files
    assert(CLI.registry("index").build(spark,
        CLI.registry("index").options.resolve(None, Nil)
          .map { case (k, (v, _)) => k -> v })
      .requirements.paths.map(_.toString).toSet
      .intersect(Set("/documents", "/Index/layer", "/Outputs/serve"))
      .size == 3)
    assert(CLI.registry("media_audit").build(spark,
        CLI.registry("media_audit").options.resolve(None, Nil)
          .map { case (k, (v, _)) => k -> v })
      .requirements.paths.map(_.toString).toSet ==
      Set("/media", "/Outputs/features", "/Outputs/flagged"))
  }

  test("write-config-template emits entries for all requirements") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    val reg = CLI.registry("orders_report")
    val opts = reg.options.resolve(None, Nil).map { case (k, (v, _)) => k -> v }
    val task = reg.build(spark, opts)
    val paths = task.requirements.paths.map(_.toString)
    assert(paths.contains("/orders") && paths.contains("/Outputs/report"))
    assert(reg.options.templateJson.render.contains("minPrice"))
  }
  test("CLI overrides survive bare flags / positionals before them") {
    val spec = JobSpec.empty.withCliArgs(Seq(
      "--dryRun", "--loc", "/a=/data/x", "positional", "--var", "k=v"))
    assert(spec.mappings.bindings.get(VPath("/a")) ==
      Some(MappingRhs.Layers(Seq(LocTemplate("/data/x")))))
    assert(spec.variables("k") == "v")
  }

  test("null-mapped folder unmaps its whole subtree") {
    val m = graft.loc.Mappings(Map(
      VPath("/") -> MappingRhs.Layers(Seq(LocTemplate("/data/root"))),
      VPath("/debug") -> MappingRhs.Unmapped), Map.empty)
    assert(m.layersFor(VPath("/debug/out"), "parquet") == Resolved.Unbound)
    // siblings outside the unmapped folder still inherit from the root
    m.layersFor(VPath("/keep/out"), "parquet") match {
      case Resolved.Bound(ls) =>
        assert(ls.head.raw == "/data/root/keep/out.parquet")
      case other => fail(s"expected bound, got $other")
    }
  }

  test("write-config-template nests dotted paths and round-trips") {
    val schema = OptionsSchema(Seq(
      OptField("users.range", Some(OptStr("0..3"))),
      OptField("top", Some(OptNum(2)))))
    val tmpl = schema.templateJson
    // nested shape, not a flat "users.range" key
    assert((tmpl \ "users").flatMap(_ \ "range").contains(JStr("0..3")))
    val resolved = schema.resolve(Some(tmpl), Nil)
    assert(resolved("users.range") == (OptStr("0..3"), OptSource.SpecFile))
    assert(schema.unknownKeys(tmpl).isEmpty)
  }

  test("--no-flag only applies to boolean fields; last flag wins") {
    val schema = OptionsSchema(Seq(
      OptField("minPrice", Some(OptNum(1))),
      OptField("dryRun", Some(OptBool(false)))))
    // --no- against a numeric field must not inject a boolean
    val r1 = schema.resolve(None, Seq("--no-minPrice"))
    assert(r1("minPrice") == (OptNum(1), OptSource.Default))
    // later explicit value outranks the earlier shorthand
    val r2 = schema.resolve(None, Seq("--no-dryRun", "--dryRun", "true"))
    assert(r2("dryRun")._1 == OptBool(true))
    val r3 = schema.resolve(None, Seq("--dryRun", "--no-dryRun"))
    assert(r3("dryRun")._1 == OptBool(false))
    // negative numbers are values, not flags
    val r4 = schema.resolve(None, Seq("--minPrice", "-5"))
    assert(r4("minPrice")._1 == OptNum(-5))
  }

  test("yaml flow values keep embedded colons; malformed JSON rejected") {
    val v = Yaml.parse("a: {url: http://x, t: 12:30}")
    assert((v \ "a").flatMap(_ \ "url") == Some(JStr("http://x")))
    assert((v \ "a").flatMap(_ \ "t") == Some(JStr("12:30")))
    intercept[IllegalArgumentException](JValue.parse("nope"))
    intercept[IllegalArgumentException](JValue.parse("fals"))
    assert(JValue.parse("false") == JBool(false))
  }

  test("show-tree flags filter the rendered facets (reference CLI.hs:393-427)") {
    import graft.model.{ShowOpts, Usage, VirtualFile}
    import graft.access.Access
    import graft.loc.Mappings
    import org.apache.spark.sql.types.StructType
    val src = VirtualFile(VPath("/in/users"), Seq("json"), Usage.Source,
      schema = Some(new StructType().add("name", "string").add("age", "int")),
      doc = "user records")
    val snk = VirtualFile(VPath("/out/report"), Seq("parquet", "csv"),
      Usage.Sink)
    val task = Access.loadData(src) >>>
      graft.task.PTask.arr((d: org.apache.spark.sql.DataFrame) => d) >>>
      Access.writeData(snk)
    // defaults: serials + extensions + fields on; mappings/types/accesses off
    val dflt = Pipeline.describe(task)
    assert(dflt ==
      """/in/users [r]
        |  usable as: source
        |  extensions: json
        |  -- user records
        |/out/report [w]
        |  usable as: sink
        |  extensions: parquet, csv
        |""".stripMargin, s"got:\n$dflt")
    // -S -F -E strips every default facet down to the header lines
    val bare = Pipeline.describe(task, None,
      ShowOpts(serials = false, fields = false, extensions = false))
    assert(bare == "/in/users [r]\n/out/report [w]\n", s"got:\n$bare")
    // -m resolves through the mappings; unbound entries say so
    val m = Mappings(Map(VPath("/in/users") ->
      MappingRhs.Layers(Seq(LocTemplate("/data/users.json")))))
    val mapped = Pipeline.describe(task, Some(m),
      ShowOpts(mappings = true, serials = false, fields = false,
        extensions = false))
    assert(mapped ==
      """/in/users [r]
        |  mapped to: /data/users.json
        |/out/report [w]
        |  <no mapping>
        |""".stripMargin, s"got:\n$mapped")
    // -t renders the declared type, -c truncates it
    val typed = Pipeline.describe(task, None,
      ShowOpts(types = true, serials = false, fields = false,
        extensions = false))
    assert(typed.contains("type: struct<name:string,age:int>"), typed)
    val cut = Pipeline.describe(task, None,
      ShowOpts(types = true, typeNumChars = 10, serials = false,
        fields = false, extensions = false))
    assert(cut.contains("type: struct<nam…"), cut)
    // -a names the access verbs + format
    val acc = Pipeline.describe(task, None,
      ShowOpts(accesses = true, serials = false, fields = false,
        extensions = false))
    assert(acc.contains("accessed with: read (json)") &&
      acc.contains("accessed with: write (parquet)"), acc)
    // flag parser: recognizes every flag, passes the rest through
    val (o, rest) = ShowOpts.parse(Seq("-m", "--types", "-a", "-S", "-E",
      "-F", "-c", "10", "-o", "minPrice=1"))
    assert(o == ShowOpts(mappings = true, serials = false, fields = false,
      types = true, accesses = true, extensions = false, typeNumChars = 10))
    assert(rest == Seq("-o", "minPrice=1"))
  }

  test("CLI cache wiring: second run reuses the memo entry, skipping recompute") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_cache"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val memoRoot = s"$base/memo"
    // run 1 with a `cache:` spec key -> populates the memo
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/spec.yaml"),
      s"""data: {minPrice: 100000}
         |cache: $memoRoot
         |locations:
         |  /orders: /root/testdata/sf0.001/orders.parquet
         |  /Outputs/report: $base/report1.parquet
         |""".stripMargin)
    CLI.run(Array("orders_report", "run", s"$base/spec.yaml"), spark)
    assert(spark.read.parquet(s"$base/report1.parquet").count() > 0)
    val entries = new java.io.File(memoRoot).listFiles()
      .filter(d => d.isDirectory && !d.getName.contains(".tmp"))
    assert(entries.length == 1, "exactly one published memo entry")
    assert(new java.io.File(entries.head, "_GRAFT_OK").exists())
    // doctor the published entry with a sentinel row (same schema,
    // marker kept): if run 2 recomputed, the sentinel could never
    // reach the output — so seeing it PROVES the compute was skipped
    // and the memo result was used
    import spark.implicits._
    Seq(("ZZ", 999L, 1.23)).toDF("o_orderstatus", "n", "total")
      .write.parquet(s"$base/doctor")
    entries.head.listFiles()
      .filter(_.getName.startsWith("part-")).foreach(_.delete())
    new java.io.File(s"$base/doctor").listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(entries.head, f.getName).toPath)
      }
    // run 2: same inputs + params -> same key -> memo hit. The sink is
    // rebound (sinks are outside the cache key; writes re-run per run,
    // Caching.hs "only c goes to the store").
    CLI.run(Array("orders_report", "run", s"$base/spec.yaml",
      "--loc", s"/Outputs/report=$base/report2.parquet"), spark)
    val back = spark.read.parquet(s"$base/report2.parquet").collect()
    assert(back.length == 1 && back.head.getString(0) == "ZZ",
      s"second run must serve the memoized entry, got ${back.toSeq}")
    // a changed parameter changes the key -> miss -> fresh compute
    CLI.run(Array("orders_report", "run", s"$base/spec.yaml",
      "-o", "minPrice=0",
      "--loc", s"/Outputs/report=$base/report3.parquet"), spark)
    val r3 = spark.read.parquet(s"$base/report3.parquet")
    assert(r3.count() > 1 && r3.filter($"o_orderstatus" === "ZZ").count() == 0)
    // --cache-root flag outranks the spec key
    val spec2 = JobSpec.fromFile(s"$base/spec.yaml")
      .withCliArgs(Seq("--cache-root", s"$base/memo2"))
    assert(spec2.cache.contains(s"$base/memo2"))
  }

  test("--loc: '+=' in the VALUE is a plain replace; before '=' adds a layer") {
    val spec = JobSpec.empty.withCliArgs(Seq(
      "--loc", "/out=/data/x+=y", "--loc", "/a+=/l1"))
    assert(spec.mappings.bindings(VPath("/out")) ==
      MappingRhs.Layers(Seq(LocTemplate("/data/x+=y"))))
    assert(spec.mappings.bindings(VPath("/a")) ==
      MappingRhs.Layers(Seq(LocTemplate("/l1"))))
  }

  test("curate pipeline: task-algebra lifecycle around the llm pack " +
       "(length gate -> verified dedup -> weights)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_curate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/curate.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {minTokens: 10}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Outputs/curated: $base/curated.parquet
         |""".stripMargin)
    CLI.run(Array("curate", "run", specFile), spark)
    val in = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = spark.read.parquet(s"$base/curated.parquet")
    assert(out.columns.toSet
      .intersect(Set("doc_id", "n_members", "weight")).size == 3)
    val n = out.count()
    assert(n > 0 && n <= in.count())
    // every surviving cluster representative carries unit-mass info:
    // weight == 1/n_members, and clusters with n_members > 1 exist in
    // the planted-near-dup testdata
    import org.apache.spark.sql.functions.{col => c, lit, round}
    assert(out.filter(c("weight") =!=
      round(lit(1.0) / c("n_members").cast("double"), 6)).count() == 0)
    assert(out.filter(c("n_members") > 1).count() > 0)
    graft.cache.Pins.release(spark)
  }

  test("preprocess pipeline: html strip + C4 gate + normalization " +
       "chain end-to-end") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import spark.implicits._
    val base = graft.Scratch.root + "/cli_preprocess"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    // planted raw corpus: one markup page that cleans to a kept doc,
    // one line-rule casualty, one lorem page
    Seq(
      (1L, "<p>This  Sentence   survives the whole chain.</p>"),
      (2L, "too short"),
      (3L, "lorem ipsum dolor sit amet. fine line here."))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/raw.parquet")
    val specFile = s"$base/pre.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {minWordsPerLine: 3}
         |locations:
         |  /documents: $base/raw.parquet
         |  /Outputs/clean: $base/clean.parquet
         |""".stripMargin)
    CLI.run(Array("preprocess", "run", specFile), spark)
    val out = spark.read.parquet(s"$base/clean.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L),
      s"only the clean page survives: ${out.keySet}")
    assert(out(1L) == "this sentence survives the whole chain.",
      s"strip + normalize must compose: '${out(1L)}'")
  }

  test("dedup_audit pipeline: lineage sink explains every removal, " +
       "kept sink is exactly the 'kept' slice") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import spark.implicits._
    val base = graft.Scratch.root + "/cli_dedup_audit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val w100 = (0 until 100).map(i => s"w$i").mkString(" ")
    Seq((1L, w100), (2L, w100), (3L, w100.replace("w50", "changed")),
      (4L, (0 until 100).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/raw.parquet")
    val specFile = s"$base/audit.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""locations:
         |  /documents: $base/raw.parquet
         |  /Outputs/lineage: $base/lineage.parquet
         |  /Outputs/deduped: $base/deduped.parquet
         |""".stripMargin)
    CLI.run(Array("dedup_audit", "run", specFile), spark)
    val lin = spark.read.parquet(s"$base/lineage.parquet")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(lin(1L) == (("kept", 1L)))
    assert(lin(2L) == (("exact", 1L)))
    assert(lin(3L) == (("near_dup", 1L)))
    assert(lin(4L) == (("kept", 4L)))
    val kept = spark.read.parquet(s"$base/deduped.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    graft.cache.Pins.release(spark)
  }

  test("safety pipeline: one cached scan feeds both the per-doc " +
       "queue and the per-source rollup sink") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_safety"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/safety.yaml"
    // 'merge' occurs in the natural corpus -> the blocklist fires
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {blockTerms: "merge, casino777"}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Outputs/safety: $base/safety.parquet
         |  /Outputs/safety_by_source: $base/by_source.parquet
         |""".stripMargin)
    CLI.run(Array("safety", "run", specFile), spark)
    val in = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = spark.read.parquet(s"$base/safety.parquet")
    val roll = spark.read.parquet(s"$base/by_source.parquet")
    assert(docs.count() == in.count(), "one verdict row per doc")
    import org.apache.spark.sql.functions.{col => c, sum => s}
    assert(docs.filter(c("n_blocked") > 0).count() > 0,
      "blocklist must fire on natural text")
    // rollup is consistent with the per-doc sink it branched from
    assert(roll.agg(s(c("n_docs"))).head.getLong(0) == in.count())
    assert(roll.agg(s(c("n_blocked"))).head.getLong(0) ==
      docs.agg(s(c("n_blocked"))).head.getLong(0))
    graft.cache.Pins.release(spark)
  }

  test("index pipeline: config-bound build -> compact -> serve " +
       "(bm25); served == one-shot; rebind-and-rerun moves the " +
       "layer; ivf and cms kinds run the same lifecycle") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import org.apache.spark.sql.functions.{col => c}
    val base = graft.Scratch.root + "/cli_index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/index.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {kind: bm25, batches: 2, topK: 3}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Index/layer: $base/idx
         |  /Outputs/serve: $base/serve.parquet
         |""".stripMargin)
    CLI.run(Array("index", "run", specFile), spark)
    // the layer dir was bound as a virtual file and compacted: both
    // subdirs hold exactly the reserved fold partition
    def parts(d: String) = Option(new java.io.File(d).listFiles())
      .map(_.map(_.getName).filter(_.startsWith("ingest_batch=")).toSet)
      .getOrElse(Set.empty[String])
    val layerRoot = new java.io.File(s"$base/idx").exists() match {
      case true  => s"$base/idx"
      case false => s"$base/idx.parquet" // ext-completed binding
    }
    assert(parts(s"$layerRoot/postings") == Set("ingest_batch=-2"),
      s"compacted postings: ${parts(s"$layerRoot/postings")}")
    assert(parts(s"$layerRoot/stats") == Set("ingest_batch=-2"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val served = norm(spark.read.parquet(s"$base/serve.parquet"))
    assert(served.nonEmpty && served.forall(_._2 <= 3))
    // the layered serve answers exactly like a one-shot build
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val oneShot = norm(graft.llm.TextAnalysis.bm25TopK(docs,
      docs.filter(c("doc_id") % 100 === 0)
        .select(c("doc_id").as("query_id"), c("text")), k = 3))
    assert(served == oneShot, "layered serve diverged from one-shot")
    // rerun: fresh-rebuild semantics converge (no double counts)
    CLI.run(Array("index", "run", specFile), spark)
    assert(norm(spark.read.parquet(s"$base/serve.parquet")) == oneShot)
    // rebind the layer and the sink; rerun lands the same results at
    // the NEW locations (the lifecycle's whole point)
    CLI.run(Array("index", "run", specFile,
      "--loc", s"/Index/layer=$base/idx2",
      "--loc", s"/Outputs/serve=$base/serve2.parquet"), spark)
    assert(norm(spark.read.parquet(s"$base/serve2.parquet")) == oneShot)
    assert(parts(s"$base/idx2/postings") == Set("ingest_batch=-2") ||
      parts(s"$base/idx2.parquet/postings") == Set("ingest_batch=-2"))
    // cms kind: same lifecycle, sketch layer + lookup serve
    CLI.run(Array("index", "run", specFile, "-o", "kind=cms",
      "--loc", s"/Index/layer=$base/cms_idx",
      "--loc", s"/Outputs/serve=$base/cms_serve.parquet"), spark)
    val cms = spark.read.parquet(s"$base/cms_serve.parquet")
    assert(cms.columns.toSeq == Seq("token", "cms_est") && cms.count() > 0)
    // ivf kind: build -> patch -> serve over the embeddings source
    CLI.run(Array("index", "run", specFile, "-o", "kind=ivf",
      "--loc", s"/embeddings=/root/testdata/sf0.001/embeddings.parquet",
      "--loc", s"/Index/layer=$base/ivf_idx",
      "--loc", s"/Outputs/serve=$base/ivf_serve.parquet"), spark)
    val ivf = spark.read.parquet(s"$base/ivf_serve.parquet")
    assert(ivf.columns.toSet == Set("query_id", "rank", "vec_id",
      "cosine") && ivf.count() > 0)
    // nCells defaulted to 0 = AUTO: the built layout's sidecar must
    // carry the corpus-derived cell count (empty cells may drop out
    // of k-means, never appear from nowhere)
    val ivfLayer = Seq(s"$base/ivf_idx", s"$base/ivf_idx.parquet")
      .find(d => new java.io.File(d).exists()).get
    val autoCells = graft.llm.Similarity.ivfAutoCells(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .count())
    val sidecarN = graft.llm.Similarity.servedModel(spark, ivfLayer,
      graft.llm.Similarity.IvfLayout).head.length
    assert(sidecarN <= autoCells && sidecarN >= 2,
      s"ivf auto geometry: sidecar $sidecarN vs auto $autoCells")
    // pq kind: build -> bucket patch -> ADC serve over the code table
    CLI.run(Array("index", "run", specFile, "-o", "kind=pq",
      "--loc", s"/embeddings=/root/testdata/sf0.001/embeddings.parquet",
      "--loc", s"/Index/layer=$base/pq_idx",
      "--loc", s"/Outputs/serve=$base/pq_serve.parquet"), spark)
    val pq = spark.read.parquet(s"$base/pq_serve.parquet")
    assert(pq.columns.toSet == Set("query_id", "rank", "vec_id",
      "cosine") && pq.count() > 0)
    val pqLayer = Seq(s"$base/pq_idx", s"$base/pq_idx.parquet")
      .find(d => new java.io.File(d).exists()).get
    assert(Option(new java.io.File(pqLayer).listFiles()).get
      .exists(_.getName.startsWith("pq_bucket=")),
      "pq layer must be bucket-partitioned (the patch rewrite unit)")
  }

  test("index pipeline refuses to delete a mis-bound layer dir that " +
       "is not a layer layout (the --loc rm -rf guard)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_index_guard"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // the binding may resolve bare or ext-completed — plant the
    // foreign content at both candidates so the guard must face it
    Seq(s"$base/precious", s"$base/precious.parquet").foreach { d =>
      new java.io.File(d).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/notes.txt"), "keep me")
    }
    val specFile = s"$base/index.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {kind: bm25, batches: 2, topK: 3}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Index/layer: $base/precious
         |  /Outputs/serve: $base/serve.parquet
         |""".stripMargin)
    val e = intercept[Throwable] {
      CLI.run(Array("index", "run", specFile), spark)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("refusing to delete")),
      s"got: ${msgs(e).mkString(" | ")}")
    Seq(s"$base/precious", s"$base/precious.parquet").foreach { d =>
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
          s"$d/notes.txt")) == "keep me",
        s"the mis-bound directory $d must be untouched")
    }
  }

  test("takedown pipeline: config-bound removal from a standing " +
       "layer with the audit row as output; build=false rerun audits " +
       "a no-op; bm25 and ivf kinds run the same lifecycle") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import org.apache.spark.sql.functions.{col => c}
    val base = graft.Scratch.root + "/cli_takedown"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // the takedown id set is itself a bound source: every 7th doc
    docs.filter(c("doc_id") % 7 === 3).select("doc_id")
      .coalesce(1).write.parquet(s"$base/ids.parquet")
    val nIds = docs.filter(c("doc_id") % 7 === 3).count()
    assert(nIds > 0)
    val specFile = s"$base/takedown.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {kind: layer, batches: 2}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /takedown_ids: $base/ids.parquet
         |  /Index/layer: $base/layer
         |  /Outputs/audit: $base/audit.parquet
         |""".stripMargin)
    CLI.run(Array("takedown", "run", specFile), spark)
    def audit(p: String) = spark.read.parquet(p).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    val (k1, rm1, parts1, left1) = audit(s"$base/audit.parquet")
    assert(k1 == "layer" && rm1 == nIds && parts1 > 0 &&
      left1 == docs.count() - nIds,
      s"layer audit: ${(k1, rm1, parts1, left1)}")
    val layerRoot = Seq(s"$base/layer", s"$base/layer.parquet")
      .find(d => new java.io.File(d).exists()).get
    assert(spark.read.parquet(layerRoot)
      .filter(c("doc_id") % 7 === 3).count() == 0,
      "taken-down ids must be gone from the standing layer")
    // deployed shape: the layer stands, build=false only removes —
    // same ids again is the idempotent (0, 0) audit
    CLI.run(Array("takedown", "run", specFile, "-o", "build=false"),
      spark)
    val (_, rm2, parts2, left2) = audit(s"$base/audit.parquet")
    assert(rm2 == 0L && parts2 == 0L && left2 == left1,
      s"rerun must audit a no-op: ${(rm2, parts2, left2)}")
    // bm25 kind: postings rows gone AND stats debited, same lifecycle
    CLI.run(Array("takedown", "run", specFile, "-o", "kind=bm25",
      "--loc", s"/Index/layer=$base/bm25_layer",
      "--loc", s"/Outputs/audit=$base/bm25_audit.parquet"), spark)
    val (_, rmB, partsB, leftB) = audit(s"$base/bm25_audit.parquet")
    // a postings layer's rows are (doc, term) pairs, so the audit
    // counts postings rows — at least one per removed doc that has
    // any lexical presence (zero-token docs are the documented edge)
    assert(rmB >= nIds - 1 && partsB == 2L,
      s"bm25 audit: ${(rmB, partsB)}")
    val bmLayer = Seq(s"$base/bm25_layer", s"$base/bm25_layer.parquet")
      .find(d => new java.io.File(d).exists()).get
    assert(spark.read.parquet(s"$bmLayer/postings")
      .filter(c("doc_id") % 7 === 3).count() == 0)
    assert(leftB == spark.read.parquet(s"$bmLayer/stats")
      .agg(org.apache.spark.sql.functions.sum(c("n_docs")))
      .head.getLong(0))
    // ivf kind over the embeddings source
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.filter(c("vec_id") % 7 === 3).select("vec_id")
      .coalesce(1).write.parquet(s"$base/vec_ids.parquet")
    CLI.run(Array("takedown", "run", specFile, "-o", "kind=ivf",
      "--loc", s"/embeddings=/root/testdata/sf0.001/embeddings.parquet",
      "--loc", s"/takedown_ids=$base/vec_ids.parquet",
      "--loc", s"/Index/layer=$base/ivf_layer",
      "--loc", s"/Outputs/audit=$base/ivf_audit.parquet"), spark)
    val (_, rmV, _, leftV) = audit(s"$base/ivf_audit.parquet")
    val nVec = emb.filter(c("vec_id") % 7 === 3).count()
    assert(rmV == nVec && leftV == emb.count() - nVec,
      s"ivf audit: ${(rmV, leftV)}")
    // pq kind: codes vanish from their buckets
    CLI.run(Array("takedown", "run", specFile, "-o", "kind=pq",
      "--loc", s"/embeddings=/root/testdata/sf0.001/embeddings.parquet",
      "--loc", s"/takedown_ids=$base/vec_ids.parquet",
      "--loc", s"/Index/layer=$base/pq_layer",
      "--loc", s"/Outputs/audit=$base/pq_audit.parquet"), spark)
    val (_, rmPq, _, leftPq) = audit(s"$base/pq_audit.parquet")
    assert(rmPq == nVec && leftPq == emb.count() - nVec,
      s"pq audit: ${(rmPq, leftPq)}")
    // cms kind: the folded sketch loses exactly the removed docs'
    // mass (cell-count audit is the sketch's own size)
    CLI.run(Array("takedown", "run", specFile, "-o", "kind=cms",
      "--loc", s"/Index/layer=$base/cms_layer",
      "--loc", s"/Outputs/audit=$base/cms_audit.parquet"), spark)
    val (_, rmC, _, leftC) = audit(s"$base/cms_audit.parquet")
    assert(rmC == nIds, s"cms audit must count removed docs: $rmC")
    // the corpus layer beside the sketch lost the removed docs too, so
    // a build=false rerun finds nothing left to subtract: (0, 0)
    CLI.run(Array("takedown", "run", specFile, "-o", "kind=cms",
      "-o", "build=false",
      "--loc", s"/Index/layer=$base/cms_layer",
      "--loc", s"/Outputs/audit=$base/cms_audit.parquet"), spark)
    val (_, rmC2, partsC2, leftC2) = audit(s"$base/cms_audit.parquet")
    assert(rmC2 == 0L && partsC2 == 0L && leftC2 == leftC,
      s"cms rerun must audit a no-op: ${(rmC2, partsC2, leftC2)}")
    graft.cache.Pins.release(spark)
  }

  test("retention pipeline: config-bound age-out with the audit row " +
       "as output; build=false rerun at the same cutoff is a no-op") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import org.apache.spark.sql.functions.{col => c}
    val base = graft.Scratch.root + "/cli_retention"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val specFile = s"$base/retention.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {keepFrom: 2, batches: 4}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Index/layer: $base/layer
         |  /Outputs/audit: $base/audit.parquet
         |""".stripMargin)
    CLI.run(Array("retention", "run", specFile), spark)
    def audit(p: String) = spark.read.parquet(p).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    val wantDrop = docs.filter(c("doc_id") % 4 < 2).count()
    val (kf, parts, rows, left) = audit(s"$base/audit.parquet")
    assert(kf == 2L && parts == 2L && rows == wantDrop &&
      left == docs.count() - wantDrop,
      s"retention audit: ${(kf, parts, rows, left)}")
    val layerRoot = Seq(s"$base/layer", s"$base/layer.parquet")
      .find(d => new java.io.File(d).exists()).get
    assert(spark.read.parquet(layerRoot)
      .filter(c("doc_id") % 4 < 2).count() == 0,
      "aged-out batches must be gone from the standing layer")
    // deployed shape: rerun at the same cutoff audits a no-op
    CLI.run(Array("retention", "run", specFile, "-o", "build=false"),
      spark)
    val (_, p2, r2, l2) = audit(s"$base/audit.parquet")
    assert(p2 == 0L && r2 == 0L && l2 == left,
      s"rerun must audit a no-op: ${(p2, r2, l2)}")
    graft.cache.Pins.release(spark)
  }

  test("media_audit pipeline: binaryFile dir ingest -> JDK decode -> " +
       "image quality gates; features + flagged discards as two sinks") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_media"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val mediaDir = new java.io.File(s"$base/fixtures")
    mediaDir.mkdirs()
    def png(name: String, w: Int, h: Int,
            pix: (Int, Int) => Int): Unit = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out))
      java.nio.file.Files.write(
        new java.io.File(mediaDir, name).toPath, out.toByteArray)
    }
    // ok: noisy 40x30; tiny: 4x2; flat: uniform 30x30
    png("ok.png", 40, 30,
      (x, y) => ((x * 97 + y * 31) % 256) * 0x010101 ^ (x % 2) * 0xFF)
    png("tiny.png", 4, 2, (x, _) => if (x < 2) 0xFF0000 else 0x0000FF)
    png("flat.png", 30, 30, (_, _) => 0x808080)
    val specFile = s"$base/media.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {kind: image, minPixels: 100}
         |locations:
         |  /media: $base/fixtures
         |  /Outputs/features: $base/features.parquet
         |  /Outputs/flagged: $base/flagged.parquet
         |""".stripMargin)
    CLI.run(Array("media_audit", "run", specFile), spark)
    import org.apache.spark.sql.functions.{col => c}
    val feats = spark.read.parquet(s"$base/features.parquet")
    assert(feats.count() == 3)
    // features carry REAL decoded dims (the binaryFile + Jdk path)
    val dims = feats.collect()
      .map(r => (r.getInt(r.fieldIndex("width")),
        r.getInt(r.fieldIndex("height")))).toSet
    assert(dims == Set((40, 30), (4, 2), (30, 30)), s"$dims")
    val flagged = spark.read.parquet(s"$base/flagged.parquet")
      .collect().map(r => (r.getLong(1) * r.getLong(2),
        r.getBoolean(r.fieldIndex("is_tiny")),
        r.getBoolean(r.fieldIndex("is_flat")))).toSet
    // the red|blue tiny image is ALSO luma-flat (red and blue have
    // identical luma 1/3, so its quadrant spread is 0)
    assert(flagged == Set((8L, true, true), (900L, false, true)),
      s"exactly the tiny and the flat image flag: $flagged")
    graft.cache.Pins.release(spark)
    // kind=video routes the SAME lifecycle through videoQuality:
    // a static clip and a b/w flicker clip flag, a gradient clip
    // passes
    val vdir = new java.io.File(s"$base/vfixtures"); vdir.mkdirs()
    def frame(v: Int): java.awt.image.BufferedImage = {
      val cm = new java.awt.image.IndexColorModel(8, 2,
        Array(v.toByte, 0.toByte), Array(v.toByte, 0.toByte),
        Array(v.toByte, 0.toByte))
      val img = new java.awt.image.BufferedImage(4, 3,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val g2 = img.createGraphics()
      try {
        g2.setColor(new java.awt.Color(v, v, v))
        g2.fillRect(0, 0, 4, 3)
      } finally g2.dispose()
      img
    }
    def gif(name: String, vals: Seq[Int]): Unit =
      java.nio.file.Files.write(new java.io.File(vdir, name).toPath,
        graft.llm.Multimodal.encodeGif(vals.map(frame)))
    gif("static.gif", Seq(80, 80, 80, 80))
    gif("flicker.gif", Seq(0, 255, 0, 255))
    gif("ok.gif", Seq(100, 110, 120, 130))
    val vspec = s"$base/video.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(vspec),
      s"""data: {kind: video}
         |locations:
         |  /media: $base/vfixtures
         |  /Outputs/features: $base/vfeat.parquet
         |  /Outputs/flagged: $base/vflag.parquet
         |""".stripMargin)
    CLI.run(Array("media_audit", "run", vspec), spark)
    val vflag = spark.read.parquet(s"$base/vflag.parquet").collect()
      .map(r => (r.getBoolean(r.fieldIndex("is_static")),
        r.getBoolean(r.fieldIndex("is_flicker")))).toSet
    assert(vflag == Set((true, false), (false, true)),
      s"exactly the static and the flicker clip flag: $vflag")
    assert(spark.read.parquet(s"$base/vfeat.parquet").count() == 3)
    graft.cache.Pins.release(spark)
  }

  test("media_dedup pipeline: binaryFile dir ingest -> perceptual " +
       "dHash -> components -> kept representatives + pair provenance") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_media_dedup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val mediaDir = new java.io.File(s"$base/fixtures")
    mediaDir.mkdirs()
    def raster(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18)
        img.setRGB(x, y,
          ((x * 37 + y * 101 + seed * 13) % 256 << 16) |
          ((x * 59 + y * 17 + seed * 29) % 256 << 8) |
          (x * 7 + y * 43 + seed * 71) % 256)
      img
    }
    def write(name: String, fmt: String, seed: Int): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(raster(seed), fmt, out))
      java.nio.file.Files.write(
        new java.io.File(mediaDir, name).toPath, out.toByteArray)
    }
    // a + its pixel-identical BMP re-encode (one must go), and b
    write("a.png", "png", 1)
    write("a_copy.bmp", "bmp", 1)
    write("b.png", "png", 2)
    val specFile = s"$base/dedup.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {kind: image, maxDist: 3}
         |locations:
         |  /media: $base/fixtures
         |  /Outputs/kept: $base/kept.parquet
         |  /Outputs/pairs: $base/pairs.parquet
         |""".stripMargin)
    CLI.run(Array("media_dedup", "run", specFile), spark)
    import org.apache.spark.sql.functions.{col => c, element_at, lit}
    def names(df: org.apache.spark.sql.DataFrame) = df
      .select(element_at(c("meta"), lit("path")).as("p")).collect()
      .map(_.getString(0).split('/').last).toSet
    val kept = spark.read.parquet(s"$base/kept.parquet")
    // exactly one of the re-encode pair survives (min media_id —
    // ids are path hashes, so resolve which one from the data),
    // plus b
    val keptNames = names(kept)
    assert(keptNames.size == 2 && keptNames.contains("b.png") &&
      (keptNames.contains("a.png") || keptNames.contains("a_copy.bmp")),
      s"got $keptNames")
    val pairs = spark.read.parquet(s"$base/pairs.parquet").collect()
    assert(pairs.length == 1 && pairs.head.getInt(2) == 0,
      s"exactly the re-encode pair at Hamming 0: ${pairs.toSeq}")
    graft.cache.Pins.release(spark)
  }

  test("tokenize pipeline: wordpiece family trains + encodes through " +
       "the lifecycle; --family override switches the trainer") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_tokenize"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/tok.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {family: wordpiece, merges: 4}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Outputs/model: $base/model.parquet
         |  /Outputs/fertility: $base/fert.parquet
         |""".stripMargin)
    CLI.run(Array("tokenize", "run", specFile), spark)
    val model = spark.read.parquet(s"$base/model.parquet")
    assert(model.columns.toSeq ==
      Seq("rank", "sym_a", "sym_b", "n_occ", "score_scaled"))
    assert(model.count() == 4)
    val fert = spark.read.parquet(s"$base/fert.parquet")
    assert(fert.columns.contains("fertility") && fert.count() > 0)
    // family override through the CLI flag surface: bpe model has no
    // score column
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$base/model.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$base/fert.parquet"))
    CLI.run(Array("tokenize", "run", specFile, "--family", "bpe"),
      spark)
    val bpeModel = spark.read.parquet(s"$base/model.parquet")
    assert(bpeModel.columns.toSeq ==
      Seq("rank", "sym_a", "sym_b", "n_occ"))
    graft.cache.Pins.release(spark)
  }

  test("quality_gate pipeline: train -> persisted weights layer -> " +
       "score from the read-back artifact; -o overrides the geometry") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import org.apache.spark.sql.functions.{col => c}
    val base = graft.Scratch.root + "/cli_gate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/gate.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {teacherToken: spark, rounds: 8}
         |locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Gate/weights: $base/weights
         |  /Outputs/scores: $base/scores.parquet
         |""".stripMargin)
    CLI.run(Array("quality_gate", "run", specFile), spark)
    val wLayer = Seq(s"$base/weights", s"$base/weights.parquet")
      .find(d => new java.io.File(d).exists()).get
    val wRows = spark.read.parquet(wLayer).orderBy(c("bucket"))
      .collect().map(_.getDouble(1))
    assert(wRows.length == 65 && wRows.exists(_ != 0.0),
      "the persisted weights layer must hold dim+1 trained weights")
    val scores = spark.read.parquet(s"$base/scores.parquet")
    assert(scores.columns.toSeq == Seq("doc_id", "score", "pred"))
    // the pipeline's scores equal the library path end-to-end
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val direct = graft.llm.TextAnalysis.applyLinearGate(docs, wRows)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val got = scores.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.sameElements(direct),
      "pipeline scores must equal applyLinearGate from the artifact")
    // the model card travels with the artifact
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$wLayer/_GATE_META"))
    assert(meta.contains("\"teacher_token\":\"spark\"") &&
      meta.contains("\"rounds\":8") && meta.contains("\"dim\":64"),
      meta)
    // -o geometry override flows through to the artifact shape
    CLI.run(Array("quality_gate", "run", specFile, "-o", "dim=32",
      "-o", "rounds=4"), spark)
    assert(spark.read.parquet(wLayer).count() == 33L,
      "dim override must change the weights layer geometry")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$wLayer/_GATE_META")).contains("\"dim\":32"),
      "the model card must describe the artifact beside it")
  }

  test("corpus_report pipeline: per-source data card from a YAML " +
       "spec; blocklist override changes the exposure column") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_report"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/report.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""locations:
         |  /documents: /root/testdata/sf0.001/documents.parquet
         |  /Outputs/report: $base/report.parquet
         |""".stripMargin)
    CLI.run(Array("corpus_report", "run", specFile), spark)
    import org.apache.spark.sql.functions.{col => c}
    val rep = spark.read.parquet(s"$base/report.parquet")
    assert(rep.columns.toSeq == Seq("source", "n_docs", "n_tokens",
      "mean_tokens", "p90_tokens", "top_lang", "top_lang_frac",
      "exact_dup_frac", "pii_doc_frac", "blocked_doc_frac"))
    assert(rep.count() > 0)
    // every fraction is a probability; volumes are positive
    assert(rep.filter(c("n_docs") <= 0 || c("n_tokens") <= 0 ||
      c("top_lang_frac") < 0 || c("top_lang_frac") > 1 ||
      c("exact_dup_frac") < 0 || c("exact_dup_frac") > 1)
      .count() == 0)
    // blocklist override: a term planted in every doc's text flips
    // the exposure column to 1.0 for every source
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$base/report.parquet"))
    val common = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("element_at(split(text, ' '), 1) AS w")
      .groupBy("w").count()
      .orderBy(c("count").desc).head().getString(0)
    CLI.run(Array("corpus_report", "run", specFile,
      "--blocklist", common), spark)
    val rep2 = spark.read.parquet(s"$base/report.parquet")
    assert(rep2.filter(c("blocked_doc_frac") > 0).count() > 0,
      "a corpus-frequent blocklist term must show exposure")
    graft.cache.Pins.release(spark)
  }

  test("media_ingest pipeline: AvailableNow streaming ingest from a " +
       "YAML spec; a second run reads ONLY the new files and dedups " +
       "against the standing corpus") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_media_ingest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val mediaDir = new java.io.File(s"$base/fixtures"); mediaDir.mkdirs()
    def raster(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18)
        img.setRGB(x, y,
          ((x * 37 + y * 101 + seed * 13) % 256 << 16) |
          ((x * 59 + y * 17 + seed * 29) % 256 << 8) |
          (x * 7 + y * 43 + seed * 71) % 256)
      img
    }
    def write(name: String, fmt: String, seed: Int): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(raster(seed), fmt, out))
      java.nio.file.Files.write(
        new java.io.File(mediaDir, name).toPath, out.toByteArray)
    }
    write("a.png", "png", 1)
    write("b.png", "png", 2)
    val specFile = s"$base/ingest.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {kind: image}
         |locations:
         |  /media: $base/fixtures
         |  /Ingest/corpus: $base/corpus
         |  /Ingest/sigs: $base/sigs
         |  /Outputs/summary: $base/summary.parquet
         |""".stripMargin)
    CLI.run(Array("media_ingest", "run", specFile), spark)
    val s1 = spark.read.parquet(s"$base/summary.parquet").head()
    assert((s1.getLong(0), s1.getLong(1)) == ((2L, 2L)), s"$s1")
    // new files land: a BMP re-encode of a.png (drops) + a new image
    write("a_copy.bmp", "bmp", 1)
    write("c.png", "png", 3)
    CLI.run(Array("media_ingest", "run", specFile), spark)
    val s2 = spark.read.parquet(s"$base/summary.parquet").head()
    assert((s2.getLong(0), s2.getLong(1)) == ((3L, 3L)),
      s"re-encode must drop against the standing corpus: $s2")
    graft.cache.Pins.release(spark)
  }

  test("table_audit pipeline: four audit sinks from one YAML run") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val base = graft.Scratch.root + "/cli_table_audit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/audit.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""locations:
         |  /table: /root/testdata/sf0.001/lineitem.parquet
         |  /Outputs/profile: $base/profile.parquet
         |  /Outputs/correlations: $base/corr.parquet
         |  /Outputs/skew: $base/skew.parquet
         |  /Outputs/layout: $base/layout.parquet
         |""".stripMargin)
    CLI.run(Array("table_audit", "run", specFile), spark)
    import org.apache.spark.sql.functions.{col => c}
    val prof = spark.read.parquet(s"$base/profile.parquet")
    assert(prof.count() == 11 &&
      prof.columns.contains("ndv"), "one profile row per column")
    val corr = spark.read.parquet(s"$base/corr.parquet")
    assert(corr.count() == 6, "4 numeric cols -> 6 pairs")
    assert(corr.filter(c("corr").isNotNull &&
      (c("corr") < -1.000001 || c("corr") > 1.000001)).count() == 0)
    val skew = spark.read.parquet(s"$base/skew.parquet")
    // sf0.001 has 10 distinct suppkeys — fewer than topK
    assert(skew.count() == 10 && skew.columns.contains("skew"))
    assert(math.abs(skew.agg(org.apache.spark.sql.functions
      .sum(c("share"))).head().getDouble(0) - 1.0) < 1e-4,
      "shares over ALL keys must sum to ~1 when topK covers them")
    val layout = spark.read.parquet(s"$base/layout.parquet")
    assert(layout.count() == 1 &&
      layout.head().getString(0) == "lineitem.parquet",
      "layout must see the real scan, not the cache")
    graft.cache.Pins.release(spark)
  }

  test("drift pipeline: frozen-model monitoring sweep from YAML; " +
       "an OOV batch shows up in the summary") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import spark.implicits._
    val base = graft.Scratch.root + "/cli_drift"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    // train corpus: vocab after 1 merge = {a, b, q, z, qz}
    Seq((1L, (Seq.fill(3)("qz") ++ Seq.fill(2)("a") ++
        Seq.fill(2)("b")).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$base/train.parquet")
    // stream: one in-vocab doc, one drifted doc with OOV chars
    Seq((10L, "abqz qz a"), (11L, "xx yz")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/stream.parquet")
    val specFile = s"$base/drift.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {merges: 1}
         |locations:
         |  /documents: $base/train.parquet
         |  /stream: $base/stream.parquet
         |  /Drift/report: $base/report
         |  /Outputs/summary: $base/summary.parquet
         |""".stripMargin)
    CLI.run(Array("drift", "run", specFile), spark)
    val s1 = spark.read.parquet(s"$base/summary.parquet").head()
    // 2 docs, 5 tokens -> 7 pieces (abqz=3, qz=1, a=1, 2x [UNK]),
    // 2 unk words, fertility 1.4 (the fertilityMonitor spec values)
    assert((s1.getLong(0), s1.getLong(1), s1.getLong(2),
      s1.getDouble(3)) == ((1L, 2L, 2L, 1.4)), s"$s1")
    // embedding kind: frozen cells from the bound vectors; a stream
    // of the training vectors plus a shifted copy flags beyond-tau
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.parquet(s"$base/emb_train.parquet")
    emb.select(c("vec_id"),
        org.apache.spark.sql.functions.transform(c("embedding"),
          x => x + org.apache.spark.sql.functions.lit(100.0f))
          .as("embedding"))
      .coalesce(1).write.parquet(s"$base/emb_stream.parquet")
    CLI.run(Array("drift", "run", specFile, "-o", "kind=embedding",
      "--loc", s"/embeddings=$base/emb_train.parquet",
      "--loc", s"/stream=$base/emb_stream.parquet",
      "--loc", s"/Drift/report=$base/emb_report",
      "--loc", s"/Outputs/summary=$base/emb_summary.parquet"), spark)
    val s2 = spark.read.parquet(s"$base/emb_summary.parquet").head()
    assert(s2.getLong(1) == emb.count() && s2.getDouble(3) == 1.0,
      s"a fully shifted stream must gauge frac_beyond = 1: $s2")
    // pq kind: frozen codebooks from the bound vectors; the same
    // shifted stream flags total quantization drift
    CLI.run(Array("drift", "run", specFile, "-o", "kind=pq",
      "--loc", s"/embeddings=$base/emb_train.parquet",
      "--loc", s"/stream=$base/emb_stream.parquet",
      "--loc", s"/Drift/report=$base/pq_report",
      "--loc", s"/Outputs/summary=$base/pq_summary.parquet"), spark)
    val s3 = spark.read.parquet(s"$base/pq_summary.parquet").head()
    assert(s3.getLong(1) == emb.count() && s3.getDouble(3) == 1.0,
      s"a fully shifted stream must gauge pq frac_beyond = 1: $s3")
    assert(new java.io.File(s"$base/pq_report.parquet-index/_books.txt")
      .exists(), "the frozen pq model is a sidecar-carrying layout")
    graft.cache.Pins.release(spark)
  }

  test("export pipeline: training-order shard layout + manifest " +
       "from YAML; rerun under a rebind reproduces the multiset") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import org.apache.spark.sql.functions.{col => c}
    val base = graft.Scratch.root + "/cli_export"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val specFile = s"$base/export.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {nShards: 4, filesPerShard: 2, targetTokens: 50000}
         |locations:
         |  /documents: /root/testdata/sf0.01/documents.parquet
         |  /Outputs/order: $base/order
         |  /Outputs/manifest: $base/manifest.parquet
         |""".stripMargin)
    CLI.run(Array("export", "run", specFile), spark)
    val man = spark.read.parquet(s"$base/manifest.parquet")
      .select("shard", "file", "n_rows", "min_ord", "max_ord")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(man.nonEmpty && man.forall(m => m._4 <= m._5))
    // within a shard: ranges disjoint, file-name order == range order
    man.groupBy(_._1).foreach { case (s, fs) =>
      val byName = fs.sortBy(_._2)
      assert(byName.sameElements(fs.sortBy(_._4)),
        s"shard $s: file-name order must equal range order")
      // adjacent ranges may touch at one ord value (a 32-bit hash
      // collision split by the range boundary) but never overlap
      byName.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4,
          s"shard $s: ranges must not overlap: $a vs $b")
        case _ =>
      }
    }
    // manifest mass == the layout == the logical export
    val order = spark.read.parquet(s"$base/order.parquet")
    assert(man.map(_._3).sum == order.count(),
      "manifest rows must cover the layout exactly")
    val logical = graft.llm.Mixing.trainingOrder(
      spark.read.parquet("/root/testdata/sf0.01/documents.parquet"),
      Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
      targetTokens = 50000L, nShards = 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "repeat_idx", "shard").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.get(2).toString.toInt)).sorted.toSeq
    assert(key(order) == key(logical),
      "the written layout must be the logical export")
    // rebind-and-rerun: a second run is bit-identical
    CLI.run(Array("export", "run", specFile,
      "--loc", s"/Outputs/order=$base/order2",
      "--loc", s"/Outputs/manifest=$base/manifest2.parquet"), spark)
    assert(key(spark.read.parquet(s"$base/order2.parquet")) == key(order),
      "rerun under a rebind must reproduce the multiset")
    graft.cache.Pins.release(spark)
  }

  test("CLI query surface: list names the inventory; run writes parquet") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    def captured(args: String*): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        CLI.run(args.toArray, spark)
      }
      bos.toString("UTF-8")
    }
    val names = captured("query", "list").linesIterator.toSeq
    assert(names.contains("q01_agg") && names.contains("llm_vocab"))
    assert(names == names.sorted)
    val out = graft.Scratch.root + "/cli_query_out"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    captured("query", "run", "llm_vocab",
      "--sf-dir", "/root/testdata/sf0.001", "--out", out)
    val rows = spark.read.parquet(out)
    assert(rows.columns.contains("token") && rows.count() > 0)
    intercept[RuntimeException] {
      CLI.run(Array("query", "run", "no_such_query"), spark)
    }
  }

  test("defaultSession: the CLI main's session carries the driver " +
       "contract conf (UTC clock, nanos-as-long parquet reads)") {
    val s = CLI.defaultSession()
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
      == "false")
  }

}
