package porcbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** Shared state of one benchmark run: the session, the tracer, the
  * closed-loop clock, latency samples, output-check failures and the
  * metrics the run reports. */
final class Run(val spark: SparkSession, val seed: Long,
                val seconds: Double, val trace: Boolean,
                val work: String, val train: Boolean = false) {
  val tr = new Tracer(spark)
  val props = mutable.LinkedHashMap[String, String]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific names of the end-to-end figures, printed. */
  val named = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  /** Hygiene guard violations; any entry fails the run. */
  val hygiene = mutable.ArrayBuffer[String]()
  /** Free-form report lines (the per-span breakdown). */
  val notes = mutable.ArrayBuffer[String]()
  /** JVM + session start, seconds. */
  var sessionS = 0.0
  var attempted = 0L
  var failed = 0L
  /** Latency samples (ms) per operation kind and traced state. */
  private val samples = mutable.LinkedHashMap[(String, Boolean),
    mutable.ArrayBuffer[Double]]()
  val oracle = mutable.LinkedHashMap[String, (String, String)]()
  var oracleDir = ""

  def prop(k: String, v: Any): Unit = props(k) = v.toString

  /** Time one operation of kind `kind`; the sample is kept only when
    * `f` returns normally. */
  def timed[A](kind: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    samples.getOrElseUpdate((kind, tr.on), mutable.ArrayBuffer())
      .append((System.nanoTime() - t0) / 1e6)
    a
  }

  /** Warm-up rounds before the window: `n`, or one in a training run
    * (one round loads every class the workload uses). */
  def warmRounds(n: Int): Int = if (train) 1 else n

  /** Forget the warm-up's counts and samples (its failures stay). */
  def endWarmup(): Unit = { attempted = 0; failed = 0; samples.clear() }

  def lat(kind: String, traced: Boolean = false): Seq[Double] =
    samples.get((kind, traced)).map(_.toSeq).getOrElse(Nil)

  /** One closed-loop operation: counted, its output checked by `f`
    * (a failed check or an exception counts the operation failed). */
  def attempt(what: String)(f: => Seq[String]): Unit = {
    attempted += 1
    val errs =
      try f
      catch { case e: Throwable =>
        Seq(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    if (errs.nonEmpty) { failed += 1; failures ++= errs.take(3) }
    // hygiene between operations, outside every timed window
    tr.span("pins.release") { graft.cache.Pins.release(spark) }
  }

  private var deadline = 0L
  /** Start the measured window. A traced run traces half the rounds:
    * its untraced rounds give the end-to-end figures, its traced ones
    * the per-layer figures, and the two interleaved sets the tracing
    * overhead. */
  def startClock(): Unit =
    deadline = System.nanoTime() + (seconds * 1e9).toLong

  /** Before round `j`: false once the window is over and at least
    * `min` rounds ran, so a slow machine still gives each kind's median
    * `min` samples (a training run has no window and runs none). The
    * clock is read only between whole rounds, so every run measures the
    * same mix of operation kinds. In a traced
    * run, rounds are traced in the order untraced, traced, traced,
    * untraced (repeating), which cancels a steady warm-up drift out of
    * the overhead. */
  def nextRound(j: Int, min: Int): Boolean =
    if ((train || j >= min) && System.nanoTime() >= deadline) {
      tr.disable(); false
    }
    else {
      if (trace && (j % 4 == 1 || j % 4 == 2)) tr.enable() else tr.disable()
      true
    }

  def check(cond: Boolean, msg: => String): Seq[String] =
    if (cond) Nil else Seq(msg)

  def write(path: String): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    val fl = root.putArray("failures")
    failures.take(20).foreach(fl.add)
    val hy = root.putArray("hygiene")
    hygiene.foreach(hy.add)
    val nt = root.putArray("notes")
    notes.foreach(nt.add)
    def metrics(name: String, m: mutable.LinkedHashMap[String,
        (Double, String)]): Unit = {
      val n = root.putObject(name)
      m.foreach { case (k, (v, u)) =>
        val o = n.putObject(k); o.put("value", v); o.put("unit", u)
      }
    }
    metrics("end_to_end", e2e)
    metrics("per_layer", layer)
    val np = root.putObject("named")
    named.foreach { case (k, v) => np.put(k, v) }
    val pp = root.putObject("properties")
    props.foreach { case (k, v) => pp.put(k, v) }
    val oq = root.putObject("oracle")
    oq.put("tables", oracleDir)
    oracle.foreach { case (k, (sql, out)) =>
      val o = oq.putObject(k); o.put("sql", sql); o.put("out", out)
    }
    Files.write(Paths.get(path), om.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail rule: the highest whole percentile that still has at
    * least 10 samples beyond it (never below the median). Returns
    * (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt)
    (p, quantile(xs, p / 100.0))
  }

  /** Order-insensitive content hash of collected rows. */
  def hashRows(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(canon).mkString("(", "|", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
