package graft.task

import graft.model.{Catalog, VPath}
import graft.loc.{LocTemplate, Mappings, Resolved}
import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** Runtime context a task body runs in: the SparkSession, the bound
  * catalog (virtual path -> physical layers), current `{var}` bindings
  * (repetition indices land here), and a logging namespace.
  *
  * Spark-native form of the reference's `PTaskState` + `DataAccessTree`
  * (PTask/Internal.hs:96-100, PorcupineTree.hs:246-253): the tree of
  * reader/writer closures collapses to catalog + mappings resolved on
  * demand; Spark's own readers are the closures.
  */
final case class RunCtx(
    spark: SparkSession,
    catalog: Catalog,
    bindings: Map[VPath, Resolved],
    mappings: Mappings,
    vars: Map[String, String] = Map.empty,
    namespace: Vector[String] = Vector.empty,
    cache: Option[graft.cache.Memo] = None) {

  def withVar(k: String, v: String): RunCtx = copy(vars = vars + (k -> v))
  def inNamespace(n: String): RunCtx = copy(namespace = namespace :+ n)

  /** Physical layers of a virtual path with current vars spliced —
    * the runtime half of `makeDataAccessor` (PorcupineTree.hs:573-642). */
  def layers(p: VPath): Seq[LocTemplate] = bindings.get(p) match {
    case Some(Resolved.Bound(ls)) => ls.map(_.splice(mappings.variables ++ vars))
    case _                        => Seq.empty
  }

  def isBound(p: VPath): Boolean = layers(p).nonEmpty
}

/** A pipeline task: statically-known data requirements (the catalog
  * contribution) + a run function.
  *
  * Spark-native `PTask m a b` (PTask/Internal.hs:113-119). The
  * reference's Writer-applicative requirement accumulation is plain
  * eager composition here: `requirements` merge monoidally as tasks
  * compose, *before* anything runs, so the whole pipeline's inputs /
  * outputs are introspectable ahead of execution (`Pipeline.describe`).
  */
final case class PTask[-A, +B](requirements: Catalog, runFn: (RunCtx, A) => B) {
  private def log = LoggerFactory.getLogger("graft.task")

  def run(ctx: RunCtx, a: A): B = runFn(ctx, a)

  /** Sequential composition (Category `>>>`). */
  def >>>[C](next: PTask[B, C]): PTask[A, C] =
    PTask(requirements ++ next.requirements,
      (ctx, a) => next.runFn(ctx, runFn(ctx, a)))

  /** Fanout (Arrow `&&&`): both branches see the same input and run
    * CONCURRENTLY, as the reference's `AsyncA` arrow runs them
    * (PTI:137-144) — side effects of the two branches have no order.
    * Both complete before a failure of either is rethrown
    * ([[Fanout]]), so a failed branch does not stop its sibling's
    * sinks from being written: chain sinks that must stay consistent
    * with `>>>`. */
  def &&&[A2 <: A, C](other: PTask[A2, C]): PTask[A2, (B, C)] =
    PTask(requirements ++ other.requirements,
      (ctx, a) => Fanout.pair(ctx.spark)(runFn(ctx, a), other.runFn(ctx, a)))

  /** Parallel product (Arrow `***`): the branches run concurrently,
    * as with [[&&&]]. */
  def ***[C, D](other: PTask[C, D]): PTask[(A, C), (B, D)] =
    PTask(requirements ++ other.requirements,
      (ctx, ac) => Fanout.pair(ctx.spark)(
        runFn(ctx, ac._1), other.runFn(ctx, ac._2)))

  def map[C](f: B => C): PTask[A, C] = this >>> PTask.arr(f)

  /** first / second (Arrow). */
  def first[C]: PTask[(A, C), (B, C)] = this *** PTask.id[C]
  def second[C]: PTask[(C, A), (C, B)] = PTask.id[C] *** this

  /** Catch exceptions into Either — reference `tryTask` (PTask.hs:68-70). */
  def tryTask: PTask[A, Either[Throwable, B]] =
    PTask(requirements, (ctx, a) =>
      try Right(runFn(ctx, a)) catch { case e: Throwable => Left(e) })

  /** Catch + log + Option — reference `catchAndLog` (PTask.hs:73-82). */
  def catchAndLog: PTask[A, Option[B]] =
    PTask(requirements, (ctx, a) =>
      try Some(runFn(ctx, a)) catch {
        case e: Throwable =>
          log.warn(s"[${ctx.namespace.mkString("/")}] task failed: $e"); None
      })

  /** Namespace + wall-time the task — reference `nameTask`
    * (PTask.hs:200-207); also tags the Spark job group so the stage
    * shows up named in the UI/event logs. */
  def named(n: String): PTask[A, B] =
    PTask(requirements, (ctx0, a) => {
      val ctx = ctx0.inNamespace(n)
      val sc = ctx.spark.sparkContext
      // restore the ENCLOSING job group on exit (nested named tasks:
      // clearJobGroup here would strip the outer task's tag from the
      // jobs it submits after this one returns)
      val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val outerDesc = Option(sc.getLocalProperty("spark.job.description"))
      sc.setJobGroup(n, ctx.namespace.mkString("/"))
      val t0 = System.nanoTime()
      try runFn(ctx, a)
      finally {
        log.info(f"[$n] took ${(System.nanoTime() - t0) / 1e9}%.3fs")
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, outerDesc.getOrElse(""))
          case None    => sc.clearJobGroup()
        }
      }
    })

  /** Measure wall time — reference `clockTask` (PTask.hs:112-126). */
  def clocked: PTask[A, (B, Double)] =
    PTask(requirements, (ctx, a) => {
      val t0 = System.nanoTime()
      val b = runFn(ctx, a)
      (b, (System.nanoTime() - t0) / 1e9)
    })

  /** Re-root this task's requirements deeper in the catalog tree —
    * reference `taskInSubtree` (PTask.hs:214-219). Lookups at run time
    * are re-rooted too. */
  def inSubtree(prefix: VPath): PTask[A, B] =
    PTask(requirements.underPrefix(prefix), (ctx, a) => {
      // re-rooted view: resolve /x as prefix/x
      val ctx2 = ctx.copy(
        bindings = ctx.bindings ++
          ctx.bindings.collect {
            case (p, r) if p.startsWith(prefix) =>
              VPath(p.relativeTo(prefix)) -> r
          })
      runFn(ctx2, a)
    })
}

object PTask {
  /** Lift a pure function (Arrow `arr`). */
  def arr[A, B](f: A => B): PTask[A, B] = PTask(Catalog.empty, (_, a) => f(a))

  def id[A]: PTask[A, A] = arr(identity)

  /** Lift an action that needs the runtime context (reference `toTask`,
    * PTask.hs:100-102 — the monadic lift). */
  def task[A, B](f: (RunCtx, A) => B): PTask[A, B] = PTask(Catalog.empty, f)

  /** Discard input — reference `voidTask` (PTask.hs:58-60). */
  def void[A]: PTask[A, Unit] = arr(_ => ())

  /** Constant. */
  def const[B](b: B): PTask[Any, B] = arr(_ => b)

  /** Fail the pipeline from an Either — reference `throwTask`
    * (PTask.hs:86-95). */
  def throwTask[B]: PTask[Either[String, B], B] =
    arr(_.fold(msg => throw new RuntimeException(msg), identity))

  /** Log a message — reference `logTask` (PTask.hs:129-138). */
  def logMsg(level: String = "info"): PTask[String, Unit] =
    task((ctx, msg) => {
      val l = LoggerFactory.getLogger("graft.pipeline")
      val tagged = s"[${ctx.namespace.mkString("/")}] $msg"
      level match {
        case "debug" => l.debug(tagged)
        case "warn"  => l.warn(tagged)
        case "error" => l.error(tagged)
        case _       => l.info(tagged)
      }
    })

  /** Memoized DataFrame-producing task — reference `toTask'` with
    * cache `Properties` (PTask.hs:107-109, Caching.hs:52-123): result
    * is content-addressed by (identity salt, hashed inputs); inputs
    * the caller leaves out of `keyParts` are the reference's
    * `Unhashed` (Caching.hs:45-48). Location-sensitive callers should
    * include resolved paths + `Memo.fingerprint`s in `keyParts`
    * (PorcupineTree.hs:123-129 rerun-on-rebind fidelity). No cache
    * configured -> plain compute. */
  def cachedTask[A](salt: String, keyParts: (RunCtx, A) => Seq[String])(
      compute: (RunCtx, A) => org.apache.spark.sql.DataFrame)
      : PTask[A, org.apache.spark.sql.DataFrame] =
    task((ctx, a) => ctx.cache match {
      case Some(memo) =>
        memo.getOrElseUpdate(memo.keyOf(salt +: keyParts(ctx, a)))(
          compute(ctx, a))
      case None => compute(ctx, a)
    })

  /** Cached compute-then-write — reference `toTaskAndWrite`
    * (Caching.hs:52-123): memoized compute whose result goes to a
    * sink; if the sink is UNBOUND the compute is skipped entirely
    * (dead-sink elimination composed with caching — "only c goes to
    * the store" becomes: only the DataFrame is memoized, the write is
    * re-performed per run against the currently-bound layers). */
  def cachedTaskAndWrite[A](vf: graft.model.VirtualFile, salt: String,
      keyParts: (RunCtx, A) => Seq[String])(
      compute: (RunCtx, A) => org.apache.spark.sql.DataFrame)
      : PTask[A, Unit] = {
    val sink = vf.copy(usage = graft.model.Usage.Sink)
    PTask(Catalog.of(sink), (ctx, a) =>
      if (!ctx.isBound(vf.path)) ()                 // dead sink: skip compute
      else {
        val df = ctx.cache match {
          case Some(memo) =>
            memo.getOrElseUpdate(memo.keyOf(salt +: keyParts(ctx, a)))(
              compute(ctx, a))
          case None => compute(ctx, a)
        }
        graft.access.Access.writeVF(ctx, sink, df)
      })
  }

  /** Conditional branch (the reference keeps ArrowChoice off PTask and
    * on RunnableTask, PTI:120-130; in strict Scala a plain either-branch
    * is safe — both branches' requirements are declared). */
  def choice[A, B, C, D](l: PTask[A, C], r: PTask[B, D])
      : PTask[Either[A, B], Either[C, D]] =
    PTask(l.requirements ++ r.requirements, (ctx, e) => e match {
      case Left(a)  => Left(l.runFn(ctx, a))
      case Right(b) => Right(r.runFn(ctx, b))
    })
}
