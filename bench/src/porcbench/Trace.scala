package porcbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Engine counters of one Spark job, filled by [[Tracer]]'s listener. */
final class JobRec(val id: Int, val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = start
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var failures = 0L
  var records = 0L
}

/** One timed call: layer name, its wall-clock interval and the
  * classes Spark's code generator compiled during it. */
final case class Span(name: String, t0: Long, t1: Long, ms: Double,
                      compiles: Long)

/** Listener-based spans. Each span labels the jobs it submits through
  * `setJobGroup`; a job is charged to every span whose interval
  * contains the job's start, which also covers jobs that library
  * worker threads submit without the caller's label. Everything is
  * held in memory and read once at run end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** (planning end time, analysis+optimization+planning ms) per query. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  val spans = mutable.ArrayBuffer[Span]()
  private var seq = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobRec(e.jobId, e.time, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.reason != org.apache.spark.Success) j.failures += 1
          val m = e.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.peakMem = j.peakMem max m.peakExecutionMemory
            j.records += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long)
        : Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.endTimeMs).max,
          ph.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  @volatile var on = false

  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.porcbenchbridge.Bus.drain(sc)

  /** Time `f` as a span named `name` (a no-op wrapper when off). */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      seq += 1
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"porcbench/$name/$seq", name)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val c0 = compiled()
      try f
      finally {
        spans += Span(name, t0, System.currentTimeMillis(),
          (System.nanoTime() - n0) / 1e6, compiled() - c0)
        if (prev == null) sc.clearJobGroup()
        else sc.setJobGroup(prev, prevDesc)
      }
    }

  /** Classes compiled by Spark's code generator so far, JVM-wide. */
  private def compiled(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def jobsIn(s: Span): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.start >= s.t0 && j.start <= s.t1)
      .toSeq

  def planMsIn(s: Span): Double =
    plans.asScala.filter { case (t, _) => t >= s.t0 && t <= s.t1 }
      .map(_._2).sum

  /** Wall time of `s` that no job of `s` covers (driver-side work). */
  def gapMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (j.start max s.t0, j.end min s.t1))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) {
        if (cur._2 > cur._1) covered += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, cur._2 max b)
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    (s.ms - covered).max(0.0)
  }
}

/** File-system accounting of the directories a run writes. */
object Fs {
  /** path -> (size, mtime) of every regular file under `roots`. */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p),
          Files.getLastModifiedTime(p).toMillis)).toList
      finally s.close()
    }.toMap

  /** (files, bytes) new or rewritten between two snapshots. */
  def added(before: Map[String, (Long, Long)],
            after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.values.map(_._1).sum)
  }

  def dataFiles(root: String): Long =
    snapshot(Seq(root)).keys.count(p =>
      !Paths.get(p).getFileName.toString.startsWith(".")).toLong

  /** Protocol temp dirs left behind under `roots` (swap, compaction,
    * patch and memo staging names, Hadoop `_temporary`). */
  def leftoverTemps(roots: Seq[String]): Seq[String] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.toString)
        .filter { p =>
          val n = Paths.get(p).getFileName.toString
          n.startsWith("_takedown_tmp") || n.startsWith("_compact_tmp_") ||
          n.startsWith("_patch_tmp") || n == "_temporary" ||
          n.contains(".tmp")
        }.toList
      finally s.close()
    }

  def deleteTree(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from),
      new java.io.File(to))
  }
}
