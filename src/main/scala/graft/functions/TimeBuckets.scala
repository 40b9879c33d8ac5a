package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Week / bucket anchoring helpers.
  *
  * The reference mixes Monday-anchored weeks (lubridate floor_date default,
  * /root/reference/scripts/sleepSD.R:59) and Sunday-anchored weeks
  * (week_start=7, /root/reference/scripts/weekly-cardio-measures.R:49) —
  * anchor is therefore a parameter here, not a constant (SURVEY.md §7.3).
  */
object TimeBuckets {

  /** Monday-anchored week start (timestamp at 00:00). Same semantics as
    * Spark/DuckDB `date_trunc('week', ts)`. */
  def weekMonday(ts: Column): Column = date_trunc("week", ts)

  /** Sunday-anchored week start: shift forward a day, truncate to the
    * Monday-anchored week, shift back. Pure built-ins — stays inside
    * whole-stage codegen. */
  def weekSunday(ts: Column): Column =
    date_trunc("week", ts + expr("INTERVAL 1 DAY")) - expr("INTERVAL 1 DAY")

  /** Epoch bucket INDEX of a timestamp at a fixed stride: FLOOR division,
    * not truncate-toward-zero — pre-1970 timestamps (negative epoch) must
    * land in the bucket BELOW, consistently with integer floor-div. The
    * double-division route is exact for any realistic epoch: |seconds| <
    * 2^53, integer-valued quotients are represented exactly, and a
    * nonzero fractional part (≥ 1/stepSeconds) dwarfs the division's
    * rounding error. THE single definition of tick/day/bucket indexing —
    * Sri ticks, Sliding window indexes, and day_idx outputs all route
    * here, so the floor semantics can never diverge site-by-site again. */
  def epochIdx(ts: Column, stepSeconds: Long): Column =
    floor(unix_timestamp(ts.cast("timestamp")) / stepSeconds).cast("long")

  /** Retention-window predicate: keep rows at/after anchor + `interval`,
    * a SQL interval literal (e.g. "14 DAY", "3 MONTH") — the reference's
    * post-infection filter (scripts/sleepSD.R:216,226;
    * scripts/functions/calcMetrics.R:58-66). Month
    * addition is calendar-aware with end-of-month clamping (matches
    * lubridate `%m+%`-style and DuckDB `+ INTERVAL k MONTH`). */
  def afterRetentionInterval(ts: Column, anchor: Column, interval: String): Column =
    ts >= anchor + expr(s"INTERVAL $interval")
}
