package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense-grid gap-fill: the Spark re-expression of the reference's
  * 30-second epoch-grid densify + fill
  * (/root/reference/scripts/functions/sri.R:47-61: per-day complete grid via
  * seq.POSIXt + unnest, left join, fill 0/NA).
  *
  * Pipeline: per-entity bucket span → explode(sequence(lo, hi, interval)) →
  * left join the tier → LOCF and/or linear interpolation via window
  * functions. All built-ins (Sequence is a codegen'd Catalyst Generator);
  * the only shuffle is the join + window partitioning on conv_id, which
  * co-locate (same key) so Catalyst reuses one exchange.
  *
  * Scale note: the grid explode multiplies rows by span/interval. The grid
  * is generated TWO-LEVEL — days first, then ticks within each day (the
  * reference's per-day 2880-epoch motif, sri.R:47-54) — so no single
  * Generate call ever materializes a whole entity span: a 3-year entity at
  * 30s ticks is ~1100 day rows × ≤2880 ticks each, not one 3.2M-element
  * array in one task (which would also trip Sequence's length cap). Never a
  * global cross join.
  */
object GapFill {

  private val DayUs = 86400000000L

  /** Dense per-entity grid between each entity's min and max bucket.
    * Input must have columns (conv_id, bucket_start). Output: one row per
    * (conv_id, grid bucket) with all tier columns, null in gaps, plus
    * `is_gap` (1 where the tier had no row).
    *
    * Grid points are lo-anchored (lo, lo+i, lo+2i, …, ≤ hi) exactly as a
    * single sequence(lo, hi, interval) would produce, but generated per
    * (entity, day): level 1 explodes the entity's DAY range (bounded by
    * span days), level 2 explodes the tick indices of the lo-anchored grid
    * that fall inside that day (≤ day/interval per row). `interval` must be
    * a day-time interval (no month/year units — those have no fixed µs
    * width); epochs are assumed non-negative (µs since 1970). */
  def denseGrid(tier: DataFrame, interval: String): DataFrame = {
    val span = tier
      .groupBy(col("conv_id"))
      .agg(min(col("bucket_start")).as("lo"), max(col("bucket_start")).as("hi"))
    // level 1: one row per (entity, day-in-span)
    val days = span
      .selectExpr(
        "conv_id", "lo",
        "unix_micros(cast(lo as timestamp)) AS lo_us",
        "unix_micros(cast(hi as timestamp)) AS hi_us",
        s"unix_micros(timestamp'1970-01-01 00:00:00Z' + INTERVAL $interval) AS step_us")
      .selectExpr("conv_id", "lo", "lo_us", "hi_us", "step_us",
        s"explode(sequence(lo_us div $DayUs, hi_us div $DayUs)) AS day_idx")
    // level 2: tick indices k of the lo-anchored grid inside [day, day+1):
    //   k_lo = smallest k with lo_us + k·step ≥ day start (0 on the first day)
    //   k_hi = largest  k with lo_us + k·step < day end, capped at hi
    val ticks = days
      .selectExpr(
        "conv_id", "lo",
        s"""CASE WHEN day_idx * $DayUs <= lo_us THEN 0L
           |     ELSE (day_idx * $DayUs - lo_us + step_us - 1) div step_us END AS k_lo""".stripMargin,
        s"least((hi_us - lo_us) div step_us, ((day_idx + 1) * $DayUs - 1 - lo_us) div step_us) AS k_hi")
      .where(col("k_lo") <= col("k_hi"))
      .selectExpr("conv_id", "lo", "explode(sequence(k_lo, k_hi)) AS k")
    val grid = ticks.select(
      col("conv_id"),
      (col("lo") + expr(s"INTERVAL $interval") * col("k")).as("bucket_start"))
    grid
      .join(tier, Seq("conv_id", "bucket_start"), "left")
      .withColumn("is_gap", when(col("n_rows").isNull, lit(1)).otherwise(lit(0)))
  }

  private val wAsc = Window.partitionBy(col("conv_id")).orderBy(col("bucket_start").asc)

  /** Last-observation-carried-forward over the grid. */
  def locf(c: Column): Column = last(c, ignoreNulls = true)
    .over(wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Linear interpolation of `valueCol` across null runs on the dense grid.
    * Uses bucket epoch seconds as the x axis; endpoints (leading/trailing
    * null runs) fall back to LOCF/NOCB of the nearest value.
    *
    * The NON-NULL observations come as a separate (usually far cheaper)
    * relation `obs` — e.g. the pre-densify tier the grid was built from,
    * or the grid itself. That replaces the second, DESCENDING sort pass
    * the NOCB endpoints would need (two full per-entity sorts of the dense
    * grid) with one ascending pass plus an equi-join against the
    * run-indexed observations: the ascending pass also counts non-null
    * values seen (`g`), the k-th non-null row of `obs` carries run index
    * k, and the next observation after any grid row is exactly run index
    * g+1 — an
    * equi-join on (conv_id, g+1) over a tier-sized table (auto-broadcast
    * at small scale; at scale an equi-join of grid vs tier, still strictly
    * cheaper than re-sorting the grid descending). Result-identical to the
    * two-sort form (test oracle `Oracles.interpolatedTwoSort`, pinned by
    * RollupSpec): the lerp consumes the same prev/next (value, x) doubles
    * through the same expression. The tempting NOCB over a FOLLOWING
    * frame of the ascending order is O(partition²): Spark re-evaluates an
    * UnboundedFollowing frame from scratch for every row (46 s against
    * ~2 s for the interp query at bench scale; PlanSpec guards it).
    *
    * `obs` must contain exactly the grid's non-null `valueCol` rows as
    * (conv_id, bucket_start, valueCol) — true by construction when `obs`
    * is the tier that `denseGrid` densified. */
  def interpolatedFrom(grid: DataFrame, valueCol: String, obs: DataFrame): DataFrame = {
    val x = unix_timestamp(col("bucket_start")).cast("double")
    val v = col(valueCol)
    val wRun = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPrev = grid
      .withColumn("_pv", last(v, ignoreNulls = true).over(wRun))
      .withColumn("_px", last(when(v.isNotNull, x), ignoreNulls = true).over(wRun))
      .withColumn("_g", count(v).over(wRun))
    val wObs = Window.partitionBy(col("conv_id")).orderBy(col("bucket_start"))
    val firsts = obs
      .where(col(valueCol).isNotNull)
      .select(col("conv_id"), col("bucket_start"), col(valueCol))
      .withColumn("_gn", row_number().over(wObs).cast("long"))
      .select(col("conv_id").as("_fc"), col("_gn"),
        col(valueCol).as("_nv"),
        unix_timestamp(col("bucket_start")).cast("double").as("_nx"))
    val joined = withPrev.join(firsts,
      col("conv_id") === col("_fc") && col("_g") + lit(1L) === col("_gn"), "left")
    val prevV = col("_pv")
    val nextV = col("_nv")
    val prevX = col("_px")
    val nextX = col("_nx")
    val lerp = prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX)
    joined
      .withColumn(
        s"${valueCol}_interp",
        when(v.isNotNull, v)
          .when(prevV.isNull, nextV)          // leading gap
          .when(nextV.isNull, prevV)          // trailing gap
          .when(nextX === prevX, prevV)
          .otherwise(lerp))
      .drop("_pv", "_px", "_g", "_fc", "_gn", "_nv", "_nx")
  }
}
