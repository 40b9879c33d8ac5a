package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Ordered-run analysis inside an entity: the engine generalization of the
  * reference's daily-measures window pipelines
  * (/root/reference/scripts/daily-measures.R:110-181):
  *   W1 NumAwakenings — count X→target transitions after dropping only the
  *      group's last row when it is a target (daily-measures.R:117
  *      `row_number()==n() & Value %in% c("wake","awake")`);
  *   W2 REM fragmentation — target→non-target transitions over target count;
  *   W4 first-match latency — seconds between the first row matching predA
  *      and the first row matching predB (cumsum(bool)==1 flags,
  *      daily-measures.R:136-160).
  *
  * All are window functions over (entity [, episode]) ordered by event time:
  * ONE shuffle on the partition keys, no driver loops — this replaces the
  * reference's per-episode R pipelines.
  */
object Episodes {

  private def w(parts: Seq[Column], order: Seq[Column]): WindowSpec =
    Window.partitionBy(parts: _*).orderBy(order: _*)

  /** W1: count transitions into `isTarget` rows, with the reference's
    * trailing-row rule: drop ONLY the single last row of the group when it
    * is a target (daily-measures.R:117 `row_number()==n() & Value %in%
    * c("wake","awake")`), then count rows whose next row is a target and
    * whose own value is not. Equivalently on the undropped data: a
    * non-target→target transition counts unless it leads directly into the
    * group's final row (which, being a target, would have been dropped) —
    * so for 'llwllww' the transitions at idx 2→3 and 5→6 both count (2),
    * even though the 'ww' run trails. */
  def transitionsInto(
      df: DataFrame,
      parts: Seq[Column],
      order: Seq[Column],
      isTarget: Column): DataFrame = {
    val ws = w(parts, order)
    // a transition row: next row is target, current is not
    val nxt = lead(isTarget.cast("int"), 1).over(ws)
    // the next row is the group's last row iff no row exists two ahead
    val nxtIsLast = lead(lit(1), 2).over(ws).isNull
    df.withColumn("_cur", isTarget.cast("int"))
      .withColumn("_nxt", nxt)
      .withColumn("_nxt_is_last", nxtIsLast)
      .where(col("_cur") === 0 && col("_nxt") === 1 && !col("_nxt_is_last"))
      .groupBy(parts: _*)
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** W2-style fragmentation: target→non-target transition count per group
    * (numerator of REM fragmentation, daily-measures.R:166-181). */
  def transitionsOutOf(
      df: DataFrame,
      parts: Seq[Column],
      order: Seq[Column],
      isTarget: Column): DataFrame = {
    val ws = w(parts, order)
    val prev = lag(isTarget.cast("int"), 1).over(ws)
    df.withColumn("_cur", isTarget.cast("int"))
      .withColumn("_prev", prev)
      .where(col("_prev") === 1 && col("_cur") === 0)
      .groupBy(parts: _*)
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** W4: latency from the first row matching `from` to the first row
    * matching `until` (null if either never matches). Emits BOTH the exact
    * integer `latency_us` (sums/averages of it stay exact across engines
    * and partition orders — no FP-summation or rounding-tie drift) and the
    * derived `latency_secs` double. */
  def firstMatchLatency(
      df: DataFrame,
      parts: Seq[Column],
      ts: Column,
      from: Column,
      until: Column): DataFrame = {
    df.groupBy(parts: _*)
      .agg(
        (min(when(until, unix_micros(ts.cast("timestamp"))))
          - min(when(from, unix_micros(ts.cast("timestamp"))))).as("latency_us"))
      .withColumn("latency_secs", col("latency_us") / 1e6)
  }
}
