package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gap-based conversation sessionization: rows of one entity whose event
  * times are within `gap` of the previous row belong to one session — the
  * transcripts-native episode operator (a "conversation sitting"), built on
  * Spark's session_window (a built-in, per the compose-first contract: no
  * custom state needed).
  *
  * The reference has no session operator (its episodes arrive pre-cut as
  * LogIds, /root/reference/scripts/daily-measures.R:92-125); this supplies
  * the cutting step for raw event streams.
  *
  * Scale: one shuffle on the entity key; session merging is per-key local.
  */
object Sessionize {

  /** Per-(entity, session) summary: session bounds come from the data
    * (start = first event, last_ts = last event; session_window's `end`
    * is last + gap, so we report the observed last event instead). */
  def sessions(
      df: DataFrame,
      entity: Column,
      ts: Column,
      gap: String,
      aggs: Seq[Column] = Nil): DataFrame = {
    val base = Seq(
      count(lit(1)).as("n_events"),
      min(ts).as("session_start"),
      max(ts).as("last_ts"))
    val all = base ++ aggs
    df.groupBy(entity.as("conv_id"), session_window(ts, gap).as("w"))
      .agg(all.head, all.tail: _*)
      .drop("w")
  }
}
