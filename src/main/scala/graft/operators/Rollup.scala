package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Continuous-aggregate tier cascade: raw → 1m → 1h → 1d.
  *
  * Replaces the reference's re-scan-per-timescale pattern
  * (/root/reference/scripts/sleepSD.R:52-266 computes daily / weekly /
  * sliding / all-time each from raw) with tier-on-tier partial merges.
  * Every stat in the block is associatively mergeable, so
  * rollup(raw→1d) ≡ merge(merge(raw→1m)→1h)→1d exactly (property-tested).
  *
  * Block columns (see graft.model.TierRow):
  *   n_rows, n_vals, sum, sum_sq, min, max, sum_sin, sum_cos
  * Finalizers derive mean / var_samp / stddev_samp / circular mean / circular
  * SD from the block — matching the reference aggregates A2-A6, A9, A10
  * (/root/reference/scripts/functions/calcMetrics.R:71-93,
  * /root/reference/scripts/daily-measures.R:215-222,
  * /root/reference/scripts/sleepSD.R:61).
  *
  * Scale notes (100 TB / 10^12 turns):
  *   - raw→1m is one hash aggregate; partial (map-side) aggregation means
  *     the shuffle carries one block per (conv_id, bucket) per task, not raw
  *     rows.
  *   - each coarser tier aggregates the PREVIOUS tier (×60 / ×24 smaller),
  *     so the cascade cost is dominated by raw→1m; never re-scan raw.
  *   - heavy conv_ids are handled by `Skew.saltedRollupRaw` (same block
  *     merge over (conv_id, salt) sub-keys).
  */
object Rollup {

  /** Period (hours) of the circular domain: time-of-day on a 24h circle,
    * as psych::circadian.mean (/root/reference/scripts/daily-measures.R:215). */
  val CircularPeriodHours = 24.0

  /** Time-of-day of a timestamp in decimal hours — the reference's
    * `(hms(format(ts,...))/hours(24))*24` transform
    * (/root/reference/scripts/daily-measures.R:66-71). */
  def todHours(ts: Column): Column =
    (hour(ts) * 3600 + minute(ts) * 60 + second(ts)) / 3600.0

  /** Stat-block aggregate exprs over a measure column. NaN is normalized to
    * null BEFORE accumulation (reference na_if(., NaN),
    * /root/reference/scripts/daily-measures.R:225). `circular` is the column
    * whose circular stats we track (e.g. time-of-day hours). */
  private[graft] def blockAggs(value: Column, circular: Column): Seq[Column] = {
    val v = nanvl(value, lit(null))
    val theta = circular * lit(2.0 * math.Pi / CircularPeriodHours)
    Seq(
      count(lit(1)).as("n_rows"),
      count(v).as("n_vals"),
      coalesce(sum(v), lit(0.0)).as("sum"),
      coalesce(sum(v * v), lit(0.0)).as("sum_sq"),
      min(v).as("min"),
      max(v).as("max"),
      coalesce(sum(sin(theta)), lit(0.0)).as("sum_sin"),
      coalesce(sum(cos(theta)), lit(0.0)).as("sum_cos"))
  }

  /** The one tumbling-window bucket rule: group by (`entity`,
    * window(`time`, `interval`) as `w`, `extraKeys`), aggregate, and expose
    * `w.start` as `bucket_start`. The grouping expressions are the
    * exchange's hash keys, so callers pass `entity` exactly as it should
    * group (a raw column aliased `conv_id`, a tier's `col("conv_id")`
    * unaliased): any other expression moves rows between tasks and so
    * changes the files a store writes. */
  private[graft] def bucketed(
      df: DataFrame,
      entity: Column,
      time: Column,
      interval: String,
      extraKeys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    df
      .groupBy(entity +: window(time, interval).as("w") +: extraKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_start", col("w.start"))
      .drop("w")

  /** raw → tier: one hash aggregate keyed (entity, event-time bucket).
    * `interval` e.g. "1 minute", "1 hour", "1 day". */
  def rollupRaw(
      raw: DataFrame,
      entity: Column,
      ts: Column,
      value: Column,
      interval: String): DataFrame =
    bucketed(raw, entity.as("conv_id"), ts, interval, Nil, blockAggs(value, todHours(ts)))

  /** rollupRaw + a Gorilla block of each bucket's raw (ts µs, value) points
    * in the SAME aggregate — one scan, one shuffle, and no stat/gorilla
    * join (the gorilla UDAF skips null/NaN rows itself, so the stat counts
    * and the block see the same input rows). The aggregate runs as
    * ObjectHashAggregate (typed buffer) with partial+final phases. */
  def rollupRawWithGorilla(
      raw: DataFrame,
      entity: Column,
      ts: Column,
      value: Column,
      interval: String): DataFrame = {
    val aggs = blockAggs(value, todHours(ts)) :+
      graft.plans.GorillaBlockAgg
        .gorillaBlock(unix_micros(ts.cast("timestamp")), value.cast("double"))
        .as("gblock")
    bucketed(raw, entity.as("conv_id"), ts, interval, Nil, aggs)
  }

  /** Tier merge + a Gorilla block of the CHILD tier's (bucket µs, sum)
    * series per coarse bucket — each level exactly reconstructable one
    * level down, still one aggregate (see rollupRawWithGorilla). */
  def rollupTierWithGorilla(tier: DataFrame, interval: String): DataFrame = {
    val aggs = mergeAggs :+
      graft.plans.GorillaBlockAgg
        .gorillaBlock(unix_micros(col("bucket_start").cast("timestamp")), col("sum"))
        .as("gblock")
    bucketed(tier, col("conv_id"), col("bucket_start"), interval, Nil, aggs)
  }

  /** tier → coarser tier: pure block merge — no raw data touched. */
  def rollupTier(tier: DataFrame, interval: String): DataFrame =
    bucketed(tier, col("conv_id"), col("bucket_start"), interval, Nil, mergeAggs)

  /** tier → arbitrary bucket expression (e.g. Monday/Sunday week anchors,
    * TimeBuckets.weekMonday/weekSunday — reference floor_date weeks,
    * /root/reference/scripts/sleepSD.R:59 vs weekly-cardio-measures.R:49). */
  def rollupTierBy(tier: DataFrame, bucket: Column): DataFrame = {
    tier
      .groupBy(col("conv_id"), bucket.as("bucket_start"))
      .agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** raw → all-time per-entity block (reference all-time summaries,
    * /root/reference/scripts/sleepSD.R:196-214). */
  def rollupAllTime(raw: DataFrame, entity: Column, ts: Column, value: Column): DataFrame = {
    val aggs = blockAggs(value, todHours(ts))
    raw.groupBy(entity.as("conv_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The associative merge of stat blocks (also used by salted partials). */
  def mergeAggs: Seq[Column] = Seq(
    sum("n_rows").as("n_rows"),
    sum("n_vals").as("n_vals"),
    sum("sum").as("sum"),
    sum("sum_sq").as("sum_sq"),
    min("min").as("min"),
    max("max").as("max"),
    sum("sum_sin").as("sum_sin"),
    sum("sum_cos").as("sum_cos"))

  /** Derive user-facing measures from a block. All-null groups yield null
    * (NA-preserving semantics A8, /root/reference/scripts/weekly-cardio-measures.R:26-40). */
  def finalized(tier: DataFrame): DataFrame = {
    val n = col("n_vals")
    val mean = when(n > 0, col("sum") / n)
    // var_samp from (n, Σx, Σx²); guard n>1 like stats::sd (sample, n−1);
    // clamp tiny negative FP residue but keep null for n<=1.
    val varS = when(n > 1, greatest((col("sum_sq") - col("sum") * col("sum") / n) / (n - lit(1)), lit(0.0)))
    tier
      .withColumn("mean", mean)
      .withColumn("var_samp", varS)
      .withColumn("stddev_samp", sqrt(varS))
      .withColumn("circ_mean_h", circularMeanFromSums(col("sum_sin"), col("sum_cos"), col("n_rows")))
      .withColumn("circ_sd_h", circularSdFromSums(col("sum_sin"), col("sum_cos"), col("n_rows")))
  }

  /** Circular mean in hours on [0, 24) from (Σsin, Σcos):
    * atan2(Σsin, Σcos)·P/2π mod P — psych::circadian.mean parity
    * (/root/reference/scripts/daily-measures.R:215-217). */
  def circularMeanFromSums(sumSin: Column, sumCos: Column, n: Column): Column = {
    val p = lit(CircularPeriodHours)
    val m = atan2(sumSin, sumCos) * p / lit(2.0 * math.Pi)
    when(n > 0, pmod(m, p))
  }

  /** Circular SD in hours: sqrt(−2·ln R)·P/2π where R = |Σ(e^iθ)|/n —
    * psych::circadian.sd(hours=TRUE) parity
    * (/root/reference/scripts/sleepSD.R:61). */
  def circularSdFromSums(sumSin: Column, sumCos: Column, n: Column): Column = {
    val r = sqrt(sumSin * sumSin + sumCos * sumCos) / n
    val rClamped = least(r, lit(1.0)) // FP noise can push R just above 1
    // + 0.0: at R=1 sqrt(−2·ln 1) = −0.0; normalize to +0.0 so bitwise
    // comparisons (the driver hashes raw bits) see one canonical zero.
    when(n > 0, sqrt(lit(-2.0) * log(rClamped)) * lit(CircularPeriodHours / (2.0 * math.Pi)) + lit(0.0))
  }

  /** Typed surface: Dataset[Turn] → Dataset[TierRow] per tier (the
    * north-star "typed Dataset window aggregates" API; DataFrame methods
    * remain the dynamic-schema form). */
  def rollupTurns(
      turns: org.apache.spark.sql.Dataset[graft.model.Turn],
      measure: Column,
      interval: String): org.apache.spark.sql.Dataset[graft.model.TierRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[graft.model.TierRow]
    rollupRaw(turns.toDF(), col("conv_id"), col("ts"), measure, interval).as[graft.model.TierRow]
  }

  /** Single-shuffle cascade: repartition raw by entity ONCE, then every
    * tier aggregate runs shuffle-free — HashPartitioning(entity) satisfies
    * each aggregate's ClusteredDistribution(entity, bucket) because equal
    * (entity, bucket) pairs are already co-located, and Spark's alias-aware
    * partitioning propagates it through the tier projections. The whole
    * 1m→1h→1d chain fuses into ONE whole-stage-codegen span above one
    * Exchange (asserted in PlanSpec).
    *
    * Trade-off: this ships RAW rows through the single shuffle, with no
    * map-side combine, where chaining rollupRaw and rollupTier would ship
    * partial blocks through one shuffle per tier. When raw cardinality per
    * 1m bucket is low (~1 turn/bucket — the transcripts shape), one raw
    * shuffle beats a 1m-tier-sized shuffle plus two smaller ones; with
    * dense buckets the per-tier map-side combine wins. Also: per-entity
    * co-location concentrates a mega-entity in one task — for extreme keys
    * build the 1m tier with Skew.saltedRollupRaw instead. */
  def cascadeCoPartitioned(
      raw: DataFrame,
      entity: Column,
      ts: Column,
      value: Column): (DataFrame, DataFrame, DataFrame) = {
    // project to the three needed columns BEFORE the shuffle — the single
    // exchange then carries ~(key, ts, value) instead of full raw rows
    // (e.g. the text payload), which is what makes one raw-row shuffle
    // competitive with three block shuffles.
    val pre = raw
      .select(entity.as("_e"), ts.as("_ts"), value.as("_v"))
      .repartition(col("_e"))
    val t1m = rollupRaw(pre, col("_e"), col("_ts"), col("_v"), "1 minute")
    val t1h = rollupTier(t1m, "1 hour")
    val t1d = rollupTier(t1h, "1 day")
    (t1m, t1h, t1d)
  }
}
