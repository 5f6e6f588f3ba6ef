package graft.access

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Stream splitting / teeing — reference `Streaming.TaskPipelineUtils`
  * (STU): `filters` with `a -> Either b c` (split a stream in two,
  * STU:86-89), stacked filters + `Copy` (multi-way split / tee,
  * STU:91-114), `mapCopy` (side-output a transformed copy while the
  * original flows on, STU:119-134), `With`/`mapStreamW` (annotated
  * elements, STU:139-157).
  *
  * Spark shape: N filtered children of ONE cached parent — the parent
  * is evaluated once (memory-and-disk, spill-safe), each branch is a
  * Catalyst-optimizable filter over it. At 100 TB prefer a single
  * pass writing `partitionBy(branch)` (see partitioned writes) when
  * branches all land on disk; the cached-parent form is for branches
  * that continue as live DataFrames.
  *
  * CACHE LIFECYCLE: the shared parent stays pinned in executor
  * storage until released — a long-lived session splitting per stage
  * would otherwise accumulate dead cached blocks. The `*Managed`
  * variants return a [[Branches]] handle; call `close()` once every
  * branch has been consumed. The unmanaged shorthands register their
  * pin with [[graft.cache.Pins]] instead of dropping it: a one-shot
  * job never notices, and a long-lived session releases every
  * accumulated pin at its next boundary with `Pins.release(spark)`.
  */
object Split {

  /** Split result + the shared cached parent behind its branches.
    * `close()` unpersists the parent — do it after all branches are
    * consumed (actions run), not before. */
  final case class Branches[T](value: T, parent: DataFrame)
      extends AutoCloseable {
    def close(): Unit = { parent.unpersist(); () }
  }

  /** Two-way split by predicate — `Either`-filter semantics: rows
    * where `cond` holds, and the rest (null counts as false). */
  def splitEitherManaged(df: DataFrame, cond: Column)
      : Branches[(DataFrame, DataFrame)] = {
    val parent = df.persist(StorageLevel.MEMORY_AND_DISK)
    Branches((parent.filter(coalesce(cond, lit(false))),
      parent.filter(!coalesce(cond, lit(false)))), parent)
  }

  /** Unmanaged shorthand — the pin is tracked by [[graft.cache.Pins]]
    * and lives until the session's next `Pins.release`. */
  def splitEither(df: DataFrame, cond: Column): (DataFrame, DataFrame) =
    graft.cache.Pins.track(df.sparkSession, splitEitherManaged(df, cond))
      .value

  /** Multi-way split: one named branch per predicate, evaluated over a
    * single cached pass of the parent. Branches may overlap and need
    * not cover (reference stacked filters are first-match, see
    * [[splitFirstMatch]] for that semantics). */
  def multiSplitManaged(df: DataFrame, branches: Seq[(String, Column)])
      : Branches[Map[String, DataFrame]] = {
    val parent = df.persist(StorageLevel.MEMORY_AND_DISK)
    Branches(
      branches.map { case (name, cond) => name -> parent.filter(cond) }.toMap,
      parent)
  }

  def multiSplit(df: DataFrame, branches: Seq[(String, Column)])
      : Map[String, DataFrame] =
    graft.cache.Pins.track(df.sparkSession, multiSplitManaged(df, branches))
      .value

  /** First-match multi-way split (the reference's stacked-filters
    * semantics: each element goes to the FIRST filter that accepts it;
    * an optional rest-branch catches the remainder). */
  def splitFirstMatchManaged(df: DataFrame, branches: Seq[(String, Column)],
                             restName: Option[String] = None)
      : Branches[Map[String, DataFrame]] = {
    val parent = df.persist(StorageLevel.MEMORY_AND_DISK)
    val named = branches.zipWithIndex.map { case ((name, cond), i) =>
      val notEarlier = branches.take(i)
        .map(b => !coalesce(b._2, lit(false)))
        .foldLeft(lit(true))(_ && _)
      name -> parent.filter(notEarlier && coalesce(cond, lit(false)))
    }
    val rest = restName.map { rn =>
      val noneMatch = branches.map(b => !coalesce(b._2, lit(false)))
        .foldLeft(lit(true))(_ && _)
      rn -> parent.filter(noneMatch)
    }
    Branches((named ++ rest).toMap, parent)
  }

  def splitFirstMatch(df: DataFrame, branches: Seq[(String, Column)],
                      restName: Option[String] = None)
      : Map[String, DataFrame] =
    graft.cache.Pins.track(df.sparkSession,
      splitFirstMatchManaged(df, branches, restName)).value

  /** Tee with transform — `mapCopy`: run `side` on a transformed copy
    * (e.g. write it somewhere) and return the original unchanged for
    * the rest of the pipeline. The side effect runs eagerly inside
    * this call, so the parent is released as soon as the CONTINUATION
    * is done — close the returned handle after consuming the
    * passthrough. */
  def teeThroughManaged(df: DataFrame)(transform: DataFrame => DataFrame)(
      side: DataFrame => Unit): Branches[DataFrame] = {
    val parent = df.persist(StorageLevel.MEMORY_AND_DISK)
    // if the side effect throws, release the parent before
    // propagating — the caller never receives a handle to close
    try side(transform(parent))
    catch { case e: Throwable => parent.unpersist(); throw e }
    Branches(parent, parent)
  }

  def teeThrough(df: DataFrame)(transform: DataFrame => DataFrame)(
      side: DataFrame => Unit): DataFrame =
    graft.cache.Pins.track(df.sparkSession,
      teeThroughManaged(df)(transform)(side)).value

  /** Annotated-element map — `With`/`mapStreamW`: apply a column
    * transform to payload columns while key/annotation columns pass
    * through untouched. */
  def mapAnnotated(df: DataFrame, keyCols: Seq[String],
                   payload: Map[String, Column]): DataFrame =
    payload.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
      // a payload column may overwrite a key column — select each name
      // once or the output carries ambiguous duplicates
      .select((keyCols ++ payload.keys.filterNot(keyCols.contains))
        .map(col): _*)
}
