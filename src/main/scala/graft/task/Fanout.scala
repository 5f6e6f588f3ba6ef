package graft.task

import java.util.concurrent.{CountDownLatch, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** Concurrent fan-out on one session: the Arrow combinators
  * ([[PTask.&&&]], [[PTask.***]]), [[graft.rep.Repetition.parMapTask]]
  * and the engine's concurrent layer writes all run through [[all]].
  *
  * The calling thread runs the first step; the rest go to a cached
  * daemon pool, which grows on demand, so a step that fans out again
  * never waits for a pool thread its own caller holds. Every step runs
  * to COMPLETION before the first failure (in step order) is rethrown,
  * the others attached as suppressed: failing fast would leave sibling
  * jobs writing into temp dirs that a caller's retry deletes and
  * recreates, where an orphan writer could land stale files the retry
  * then commits.
  *
  * Pool threads are reused, so inherited thread-locals are stale: each
  * step sets the caller's active session and its job group,
  * description, interrupt-on-cancel flag, scheduler pool and job tags
  * on the worker (a `PTask.named` label reaches the jobs a branch
  * submits), and clears them afterwards. `spark.sql.execution.id` is
  * never carried: a step inside another query's execution would fail
  * Spark's nested-execution check. */
object Fanout {

  private val carried = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")
  private val cleared = carried ++ Seq("spark.sql.execution.id",
    "spark.sql.execution.root.id")

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-fanout-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Run `steps` concurrently, at most `maxConcurrent` at a time, and
    * return their results in order. `spark` may be null (a pure task
    * run): nothing is then carried but the active session. */
  def all[A](spark: SparkSession, steps: Seq[() => A],
             maxConcurrent: Int = Int.MaxValue): Seq[A] = {
    val out = new Array[Either[Throwable, Any]](steps.size)
    val next = new AtomicInteger(1)
    def runAt(i: Int): Unit =
      out(i) = try Right(steps(i)()) catch { case e: Throwable => Left(e) }
    def drain(): Unit = {
      var i = next.getAndIncrement()
      while (i < steps.size) { runAt(i); i = next.getAndIncrement() }
    }
    val workers = math.min(maxConcurrent, steps.size) - 1
    val done = new CountDownLatch(math.max(workers, 0))
    if (workers > 0) {
      val active = SparkSession.getActiveSession
      val sc = Option(spark).map(_.sparkContext)
      val props = sc.map(c => carried.map(c.getLocalProperty))
      val tags = sc.map(_.getJobTags()).getOrElse(Set.empty[String])
      (1 to workers).foreach { _ =>
        pool.execute { () =>
          SparkSession.clearActiveSession()
          active.foreach(SparkSession.setActiveSession)
          sc.foreach { c =>
            cleared.foreach(c.setLocalProperty(_, null))
            carried.zip(props.get).foreach { case (k, v) =>
              c.setLocalProperty(k, v) }
            c.clearJobTags()
            tags.foreach(c.addJobTag)
          }
          try drain()
          finally {
            sc.foreach { c =>
              carried.foreach(c.setLocalProperty(_, null)); c.clearJobTags() }
            SparkSession.clearActiveSession()
            done.countDown()
          }
        }
      }
    }
    if (steps.nonEmpty) runAt(0)
    drain()
    var interrupted = false
    while (done.getCount > 0)
      try done.await()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
    out.toSeq.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => out.toSeq.map(_.toOption.get.asInstanceOf[A])
    }
  }

  /** Two branches as one concurrent pair: `l` on the calling thread. */
  def pair[A, B](spark: SparkSession)(l: => A, r: => B): (A, B) = {
    val Seq(a, b) = all[Any](spark, Seq(() => l, () => r))
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }
}
