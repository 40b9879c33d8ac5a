package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sliding windows over tier buckets with completeness filtering — the
  * engine form of the reference's `slider::slide_period(.before = k−1)`
  * plus its exact-width post-filter (`period_dt == 21 / == 182`,
  * /root/reference/scripts/sleepSD.R:66-123,137-194; sliding SRI
  * /root/reference/scripts/functions/sri.R:96-121).
  *
  * Works on ANY tier (daily, weekly) — aggregate-of-aggregates is valid
  * because the windowed stats run over the tier's mergeable block columns
  * (or their finalized means), exactly like the reference slides over
  * weekly summaries, not raw rows.
  *
  * Implementation: rangeBetween on the bucket's epoch index, so missing
  * buckets make a window INCOMPLETE (range, not rows) — then the
  * completeness filter keeps windows whose earliest bucket is exactly
  * (width−1) steps back. One shuffle on (entity), reused across all the
  * windowed stats.
  */
object Sliding {

  /** Sliding stats over the previous `width` buckets (inclusive) of
    * INTEGER-quantized values (LongType value columns, e.g. micro-unit
    * quantizations of a tier measure). `stepSeconds` is the bucket stride
    * (86400 for daily, 604800 weekly). Only complete windows are kept.
    *
    * Order-insensitive by construction: `avg`/`stddev_samp` over windowed
    * DOUBLES depend on the engine's summation order and stddev algorithm —
    * different engines (or different versions of one engine) disagree in
    * the last ulp, and the stddev's
    * cancellation amplifies that past any rounding that is still faithful.
    * Here the windowed sums Σx and Σx² are EXACT integer arithmetic
    * (order-insensitive in any engine), and the only floating-point ops are
    * a fixed final sequence on those exact integers — identical IEEE-754
    * correctly-rounded steps everywhere:
    *
    *   mean = Σx / n
    *   sd   = sqrt(max((Σx² − (Σx·Σx)/n) / (n−1), 0))      (sample, n−1)
    *
    * with Σx, Σx² cast to double up front (the cast of an exact integer is
    * itself deterministic round-to-nearest — for BOTH engines' 128-bit
    * integer types). The max(…, 0) guards the near-zero-variance
    * cancellation case, where the double form can dip a few ulp below zero
    * (DuckDB errors on sqrt of a negative; Spark yields NaN — both
    * avoided). Σx² accumulates in 128-bit exact arithmetic (Spark
    * decimal(38,0), mirrored by DuckDB's HUGEINT sum) because a micro-unit
    * quantization of a few-hundred-scale measure already puts an int64
    * 26-window Σx² at ~88% of Long.MaxValue — one data-range bump away
    * from an ANSI overflow error; decimal gives ~20 orders of magnitude of
    * headroom at negligible cost on width-sized windows. Σx stays int64
    * (bound: |x|·width < 2^63 — |x| ≤ ~3.5e17 at width 26).
    *
    * Emits `<name>_mean`/`<name>_sd` (double, in the quantized unit) and
    * `<name>_n` per value column, plus `window_complete` (true on every
    * kept row). An equivalent oracle must spell the IDENTICAL op sequence,
    * e.g. for width 3:
    * {{{
    *   CAST(sum(x) OVER w AS BIGINT)                        AS s,
    *   CAST(sum(CAST(x AS HUGEINT) * x) OVER w AS DOUBLE)   AS qd,
    *   CAST(s AS DOUBLE) / 3.0                              AS x_mean,
    *   sqrt(greatest((qd
    *     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 3.0) / 2.0, 0.0)) AS x_sd
    * }}} */
  def slidingStatsExact(
      tier: DataFrame,
      entity: Column,
      bucket: Column,
      stepSeconds: Long,
      width: Int,
      values: Seq[(String, Column)]): DataFrame = {
    require(width >= 2, s"width must be >= 2 for a sample sd, got $width")
    val idx = graft.functions.TimeBuckets.epochIdx(bucket, stepSeconds)
    val base = tier.withColumn("_bidx", idx)
    val wr = Window.partitionBy(entity).orderBy(col("_bidx"))
      .rangeBetween(-(width - 1).toLong, 0L)
    val nD = width.toDouble
    val withStats = values.foldLeft(base) { case (df, (name, c)) =>
      val s = sum(c).over(wr).cast("double")
      val cd = c.cast("decimal(38,0)")
      val q = sum(cd * cd).over(wr).cast("double")
      val n = count(c).over(wr)
      // stats divide by the literal width, so they are emitted only where
      // the window holds exactly `width` NON-NULL values (a null value in
      // an otherwise-complete window would silently skew a count-free mean)
      df.withColumn(s"${name}_mean", when(n === width, s / lit(nD)))
        .withColumn(s"${name}_sd",
          when(n === width,
            sqrt(greatest((q - s * s / lit(nD)) / lit(nD - 1.0), lit(0.0)))))
        .withColumn(s"${name}_n", n)
    }
    // buckets are unique per entity, so count==width ⇔ every bucket present
    // (an endpoint-only check would wrongly pass windows with interior gaps)
    val complete = count(lit(1)).over(wr) === width
    withStats.withColumn("window_complete", complete)
      .where(col("window_complete")).drop("_bidx")
  }
}
