package porcbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.util.Random

/** Seeded input generator. Every table is a pure function of the
  * workload seed, so two runs with one seed see the same inputs. The
  * shapes follow the star-schema + LLM test tables the queries are
  * written against (`documents`, `embeddings`, TPC-H-ish `orders` ...).
  */
object Gen {

  /** Pseudo-word vocabulary: stable across seeds, so query texts and
    * BM25 term statistics keep one shape while the corpus varies. */
  val vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
      "de", "va", "zu", "ge", "bo", "fi", "hu", "ja")
    (0 until 400).map(_ => (1 to 2 + r.nextInt(2))
      .map(_ => syl(r.nextInt(syl.size))).mkString).distinct
  }

  private val langs = IndexedSeq("en", "de", "fr", "es", "zh")

  /** Zipf-ish word draw so BM25 sees frequent and rare terms. */
  def word(r: Random): String = {
    val u = r.nextDouble()
    vocab((u * u * u * vocab.size).toInt.min(vocab.size - 1))
  }

  def text(r: Random, nTok: Int): String =
    Iterator.fill(nTok)(word(r)).mkString(" ")

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docRow(r: Random, id: Long, t: String): Row =
    Row(id, t, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}",
      t.length.toLong)

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
            path: String, parts: Int = 4): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
        schema)
      .write.mode("overwrite").parquet(path)

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType)
      : DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Unit vectors around 10 label centres (dim 64). */
  def embeddings(seed: Long, ids: Seq[Long]): Seq[Row] = {
    val centres = {
      val rc = new Random(11L)
      IndexedSeq.fill(10)(IndexedSeq.fill(64)(rc.nextGaussian()))
    }
    val r = new Random(seed * 17 + 3)
    ids.map { id =>
      val label = r.nextInt(10)
      val v = centres(label).map(_ + 1.5 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(id, v.map(x => (x / norm).toFloat), label)
    }
  }

  def queryVector(r: Random): Seq[Double] = {
    val v = IndexedSeq.fill(64)(r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  private def ts(days: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(days)
      .atStartOfDay())

  /** The star schema + events + LLM tables at roughly sf0.01. */
  def starSchema(spark: SparkSession, seed: Long, dir: String): Unit = {
    val r = new Random(seed * 13 + 5)
    // rows are drawn eagerly in a fixed order (so the seed fixes them);
    // the parquet writes then run as concurrent jobs
    val pending = scala.collection.mutable.ArrayBuffer[() => Unit]()
    def table(rows: Seq[Row], schema: StructType, path: String,
              parts: Int = 4): Unit = {
      val eager = rows.toVector
      pending += (() => write(spark, eager, schema, path, parts))
    }
    def rnd2(x: Double) = math.round(x * 100) / 100.0
    table(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) },
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))), s"$dir/region.parquet", 1)
    table((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      s"$dir/nation.parquet", 1)
    val segs = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")
    table((0 until 1500).map(i => Row(i.toLong,
        f"Customer#$i%09d", r.nextInt(25),
        rnd2(-999.99 + r.nextDouble() * 11000), segs(r.nextInt(5)))),
      StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      s"$dir/customer.parquet", 1)
    table((0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), rnd2(-999.99 + r.nextDouble() * 11000))),
      StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
      s"$dir/supplier.parquet", 1)
    val adj = IndexedSeq("small", "red", "blue", "large", "green",
      "shiny", "old", "new")
    val noun = IndexedSeq("ring", "widget", "anvil", "bolt", "gear",
      "valve", "spring", "panel")
    val types = IndexedSeq("ECONOMY", "STANDARD", "PROMO", "LARGE",
      "MEDIUM", "SMALL")
    table((0 until 2000).map(i => Row(i.toLong,
        s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)),
      StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType),
        StructField("p_brand", StringType),
        StructField("p_type", StringType),
        StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))),
      s"$dir/part.parquet", 1)
    val prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val status = IndexedSeq("F", "O", "P")
    table((0 until 15000).map(i => Row(i.toLong,
        r.nextInt(1500).toLong, status(r.nextInt(3)),
        rnd2(1000 + r.nextDouble() * 499000), ts(r.nextInt(2400)),
        prios(r.nextInt(5)))),
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
      s"$dir/orders.parquet")
    val flags = IndexedSeq("A", "N", "R")
    val lines = (0 until 60000).map { _ =>
      val q = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(15000).toLong, r.nextInt(2000).toLong,
        r.nextInt(100).toLong, 1 + r.nextInt(7), q,
        rnd2(q * (900 + r.nextDouble() * 1200)), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, flags(r.nextInt(3)),
        if (r.nextBoolean()) "F" else "O", ts(1 + r.nextInt(2500)))
    }
    table(lines, StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
      s"$dir/lineitem.parquet")
    val evTypes = IndexedSeq("click", "error", "purchase", "signup",
      "view")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val evTs = (0 until 10000).map(_ =>
      t0 + (r.nextDouble() * 30L * 86400L * 1000000L).toLong).sorted
    table(evTs.zipWithIndex.map { case (us, i) =>
        val t = new Timestamp(us / 1000L)
        t.setNanos(((us % 1000000L) * 1000L).toInt)
        Row(i.toLong, t, r.nextInt(150).toLong, evTypes(r.nextInt(5)),
          rnd2(0.01 + r.nextDouble() * 490), s"""{"k": ${r.nextInt(100)}}""")
      }, StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))),
      s"$dir/events.parquet")
    table((0L until 500L).map(id =>
        docRow(r, id, text(r, 10 + r.nextInt(70)))), docSchema,
      s"$dir/documents.parquet")
    table(embeddings(seed, 0L until 500L), embSchema,
      s"$dir/embeddings.parquet")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(pending.map(w => Future(w()))),
      scala.concurrent.duration.Duration.Inf)
  }

  /** `User-{i}.json` files for user_analysis (one JSON record each). */
  def users(seed: Long, dir: Path, n: Int): Unit = {
    val r = new Random(seed * 7 + 9)
    Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val name = vocab(r.nextInt(vocab.size)).capitalize
      val surname = vocab(r.nextInt(vocab.size)).capitalize
      Files.write(dir.resolve(s"User-$i.json"),
        s"""{"userName": "$name", "userSurname": "$surname", "userAge": ${18 + r.nextInt(60)}}"""
          .getBytes(UTF_8))
    }
  }

  /** `radon.csv` with the four columns the radon example reads. */
  def radon(seed: Long, file: Path, n: Int): Unit = {
    val r = new Random(seed * 5 + 2)
    val states = IndexedSeq("MN", "WI", "MO", "ND", "PA", "IN")
    val sb = new StringBuilder("state,county,basement,log_radon\n")
    (0 until n).foreach { _ =>
      val b = r.nextDouble() < 0.7
      val lr = (if (b) 1.3 else 0.8) + 0.7 * r.nextGaussian()
      sb.append(s"${states(r.nextInt(states.size))},C${r.nextInt(80)}," +
        s"${if (b) "Y" else "N"},${math.round(lr * 1000) / 1000.0}\n")
    }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(UTF_8))
  }
}
