package graft.rep

import graft.task.{Fanout, PTask}

/** Index sets + task repetition (reference Repetition.hs / Internal.hs).
  *
  * Scale note (SURVEY §7 hard-parts): the reference runs a full sub-flow
  * per index. A naive translation = thousands of tiny Spark jobs. Here:
  * `parMapTask` fans out DRIVER-side (concurrent job submission — Spark
  * schedules them FAIR across executors), which is right when each
  * repetition is itself a Spark job over different files; when the body
  * is row-local, prefer `Access.loadIndexed` (one multi-path scan with
  * an index column) and ordinary DataFrame ops — one job total.
  */
object Repetition {

  /** Parse the reference's compact index-set syntax `"0..10"`,
    * `"[0..10, 50..60, 72]"` (Repetition.hs:114-181). */
  def parseIndexRange(s0: String): Seq[String] = {
    val s = s0.trim.stripPrefix("[").stripSuffix("]")
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { part =>
      part.split("\\.\\.") match {
        case Array(lo, hi) if lo.trim.toLongOption.isDefined &&
                              hi.trim.toLongOption.isDefined =>
          (lo.trim.toLong to hi.trim.toLong).map(_.toString)
        case _ => Seq(part)
      }
    }
  }

  /** Repeat a task over a collection IN PARALLEL, binding `varName` to
    * each element's index so `{varName}` path templates splice per
    * repetition — reference `parMapTask` (REP:61-67) +
    * `makeTaskRepeatable` (REPI:102-131). At most `maxConcurrent`
    * repetitions run at once; all of them finish before the first
    * failure is rethrown ([[Fanout]]). */
  def parMapTask[A, B](varName: String, task: PTask[A, B],
                       maxConcurrent: Int = 8)
      : PTask[Seq[(String, A)], Seq[(String, B)]] =
    PTask(task.requirements, (ctx, items) =>
      Fanout.all(ctx.spark, items.map { case (idx, a) =>
        () => idx -> task.run(ctx.withVar(varName, idx), a)
      }, math.max(1, maxConcurrent)))

  /** Parallel repeat, discard results — reference `parMapTask_`. */
  def parMapTask_[A](varName: String, task: PTask[A, _],
                     maxConcurrent: Int = 8)
      : PTask[Seq[(String, A)], Unit] =
    parMapTask(varName, task, maxConcurrent).map(_ => ())

  /** Sequential, ordered repeat — reference `seqMapTask` (REP:39-58). */
  def seqMapTask[A, B](varName: String, task: PTask[A, B])
      : PTask[Seq[(String, A)], Seq[(String, B)]] =
    PTask(task.requirements, (ctx, items) =>
      items.map { case (idx, a) =>
        idx -> task.run(ctx.withVar(varName, idx), a)
      })

  /** Map a task over a STREAM, one sub-run per element — reference
    * `mappingOverStream` (Repetition/Streaming.hs:59-101; DEPRECATED
    * there in favor of the FoldA API, and that advice stands here
    * too — the face exists so the surface is complete and migrations
    * compile). Same `{varName}` location remapping per element as
    * [[seqMapTask]], with the reference's exact evaluation order
    * (`mappingRunnableOverStream`, Streaming.hs:88-96): the FIRST
    * element's sub-run fires eagerly at task-run time (`S.next` +
    * `go firstInput` before the cons'd stream is returned), the tail
    * is DEMAND-DRIVEN (element i>0 runs only when the consumer pulls
    * result i), and an empty stream runs nothing (the empty-input
    * short-circuit, :90-91). [[seqMapTask]] is the strict twin;
    * [[graft.fold.FoldA]] is the recommended way to consume a stream
    * with a task. */
  def mappingOverStream[A, B](varName: String, task: PTask[A, B])
      : PTask[Iterator[(String, A)], Iterator[(String, B)]] =
    PTask(task.requirements, (ctx, items) =>
      if (!items.hasNext) Iterator.empty
      else {
        val (idx0, a0) = items.next()
        val first = idx0 -> task.run(ctx.withVar(varName, idx0), a0)
        Iterator.single(first) ++ items.map { case (idx, a) =>
          idx -> task.run(ctx.withVar(varName, idx), a)
        }
      })

  /** Fold a collection through a task step — reference `basicFoldlTask`
    * (REP:102-112). */
  def foldlTask[A, Acc](varName: String, step: PTask[(Acc, A), Acc])
      : PTask[(Acc, Seq[(String, A)]), Acc] =
    PTask(step.requirements, (ctx, in) => {
      val (z, items) = in
      items.foldLeft(z) { case (acc, (idx, a)) =>
        step.run(ctx.withVar(varName, idx), (acc, a))
      }
    })

  /** Use a boolean task as a predicate over a collection — reference
    * `filterTask` (REP:82-89). */
  def filterTask[A](varName: String, pred: PTask[A, Boolean])
      : PTask[Seq[(String, A)], Seq[(String, A)]] =
    PTask(pred.requirements, (ctx, items) =>
      items.filter { case (idx, a) =>
        pred.run(ctx.withVar(varName, idx), a)
      })
}
