package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization (the batch form of Structured Streaming's
  * session windows, as a declarative plan the optimizer can see
  * through).
  *
  * A session is a maximal run of a key's events where consecutive
  * event times are within `gap` of each other. Classic two-window
  * plan: mark rows whose time-delta from the previous event exceeds
  * the gap, then running-sum the marks — the sum IS the session index.
  *
  * Scale: ONE shuffle on the key; both windows share the same
  * (key, ts)-sorted partitioning, so the second window adds no
  * exchange. Per-key history sorts within one partition — same skew
  * caveat (and same answer) as [[graft.rep.Joins.asofJoin]].
  */
object Sessionize {

  /** Append `session_idx` (0-based per key, in time order) to an event
    * frame. `tsCol` must be numeric or timestamp; `gap` is in the
    * column's units (e.g. micros for `unix_micros`). `tieCol` breaks
    * equal-timestamp ordering for deterministic output when (key, ts)
    * is not unique. */
  private[graft] def sessionize(events: DataFrame, keyCol: String,
                                tsCol: String, gap: Long,
                                tieCol: Option[String] = None)
      : DataFrame = {
    val order: Seq[Column] =
      col(tsCol).asc +: tieCol.map(col(_).asc).toSeq
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsCol), 1).over(w)
    val newSession =
      when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L)
    events
      .withColumn("session_idx", sum(newSession).over(run) - 1L)
  }

  /** Per-session rollup: start/end, event count, value sum. The usual
    * consumer of [[sessionize]]; one extra shuffle on
    * (key, session_idx). */
  def sessionStats(events: DataFrame, keyCol: String, tsCol: String,
                   gap: Long, valueCol: String,
                   tieCol: Option[String] = None): DataFrame =
    sessionize(events, keyCol, tsCol, gap, tieCol)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(28,10)")).cast("double")
          .as("sum_value"))
}
