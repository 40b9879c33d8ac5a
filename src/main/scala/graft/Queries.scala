package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{MetricRegistry, Scalars, TextFunctions, TimeBuckets}
import graft.operators.{Dedup, Episodes, GapFill, Rollup, Similarity, Skew, Sliding, Sri}
import graft.sources.Parquet

/** Driver-facing query catalog. Each entry exercises one engine operator
  * from SURVEY.md §2 over the driver's testdata tables (events ≙ the
  * transcripts shape: user_id→conv_id, ts→ts, value→measure) and has a
  * DuckDB oracle in `sql` (consumed by SparkEntry.oracleSql).
  *
  * All float outputs are rounded IDENTICALLY on both sides so the driver's
  * value-hash compare is robust to FP summation-order differences between
  * Spark's partial aggregation and DuckDB's sequential aggregation.
  */
object Queries {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(s, s"$dir/$name.parquet")

  private def events(s: SparkSession, dir: String): DataFrame = tbl(s, dir, "events")

  /** Register a JVM-exit recursive delete for a scratch dir, once per
    * path (repeated query invocations in one process must not stack
    * hooks). Exit-time cleanup keeps the query lazily consumable — the
    * caller's action reads the directory long after this function
    * returns, so an eager delete is impossible. */
  private val exitDeletes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def deleteOnExit(path: String): Unit =
    if (exitDeletes.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => Fs.deleteTreeQuietly(path)))
    }

  /** Small single-file tables arrive as ONE input partition, which would
    * serialize compute-heavy pipelines (signatures, pair joins) onto one
    * task. Spread them across the cores up front — at real scale the input
    * has many partitions and this is a no-op decision made by layout. */
  private def wide(s: SparkSession, dir: String, name: String): DataFrame =
    tbl(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** Uniform user-facing tier projection (shared by tier queries + oracle). */
  private def tierOut(t: DataFrame): DataFrame =
    Rollup
      .finalized(t)
      .select(
        col("conv_id"),
        col("bucket_start"),
        col("n_rows"),
        col("n_vals"),
        round(when(col("n_vals") > 0, col("sum")), 6).as("sum_v"),
        col("min").as("min_v"),
        col("max").as("max_v"),
        round(col("mean"), 6).as("mean_v"),
        round(col("stddev_samp"), 6).as("sd_v"))

  private def tierOracle(trunc: String): String =
    s"""SELECT user_id AS conv_id, date_trunc('$trunc', ts) AS bucket_start,
       |  count(*) AS n_rows, count(value) AS n_vals,
       |  round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v,
       |  round(avg(value), 6) AS mean_v, round(stddev_samp(value), 6) AS sd_v
       |FROM events GROUP BY 1, 2""".stripMargin

  private def weekOracle(sunday: Boolean): String = {
    val b =
      if (sunday) "date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY"
      else "date_trunc('week', ts)"
    s"""SELECT user_id AS conv_id, $b AS bucket_start,
       |  count(*) AS n_rows, count(value) AS n_vals,
       |  round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v,
       |  round(avg(value), 6) AS mean_v, round(stddev_samp(value), 6) AS sd_v
       |FROM events GROUP BY 1, 2""".stripMargin
  }

  /** Truncated-second time-of-day in hours (both engines floor to whole
    * seconds — parity with R's %H:%M:%S formatting, SURVEY.md §2.9). */
  private val todHoursDuck =
    "(floor((epoch_us(ts) % 86400000000) / 1000000) / 3600.0)"

  /** Shared daily stage of the sleepSD flagship (anchor → retention →
    * per-(entity, day) circular SD of time-of-day, quantized to MICRO-HOUR
    * integers): consumed by q_sleepsd_windows (window stats on top) and
    * q_sleepsd_daily (the bisection row). The micro-hour quantization is
    * the bit-stability boundary — everything downstream is exact-integer
    * or a fixed FP op sequence over exact integers (see the flagship's
    * comment). */
  private def sleepSdDaily(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val day = date_trunc("day", col("ts"))
    val anchors = ev.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "purchase", day)).as("a1"),
      min(when(col("event_type") === "click", day)).as("a2"))
      .select(col("user_id"),
        least(coalesce(col("a1"), col("a2")), coalesce(col("a2"), col("a1"))).as("anchor"))
    // per-entity anchors are unbounded — hint-free join, AQE decides
    val ret = ev.join(anchors, Seq("user_id"))
      .where(day >= col("anchor") + expr("INTERVAL 2 DAY"))
    ret
      .groupBy(col("user_id").as("conv_id"), day.as("day"))
      .agg(round(MetricRegistry.registry("circular_sd")(Rollup.todHours(col("ts"))) * lit(1e6))
        .cast("long").as("circ_us"))
      .select(col("conv_id"),
        TimeBuckets.epochIdx(col("day"), 86400L).as("day_idx"),
        col("circ_us"))
  }

  /** DuckDB mirror of [[sleepSdDaily]] — CTE bodies ending in `d` (splice
    * as `WITH $sleepSdDailySql, …`). */
  private val sleepSdDailySql: String =
    s"""a AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END) AS a1,
       |    min(CASE WHEN event_type = 'click' THEN date_trunc('day', ts) END) AS a2
       |  FROM events GROUP BY 1),
       |an AS (SELECT user_id, least(coalesce(a1, a2), coalesce(a2, a1)) AS anchor FROM a),
       |r AS (
       |  SELECT e.user_id, e.ts FROM events e JOIN an USING (user_id)
       |  WHERE date_trunc('day', e.ts) >= an.anchor + INTERVAL 2 DAY),
       |d AS (
       |  SELECT user_id AS conv_id,
       |    epoch(date_trunc('day', ts)) // 86400 AS day_idx,
       |    CAST(round(sqrt(-2.0 * ln(least(sqrt(avg(sin(2*pi()*$todHoursDuck/24.0))^2
       |      + avg(cos(2*pi()*$todHoursDuck/24.0))^2), 1.0))) * (24.0 / (2*pi())) * 1000000.0) AS BIGINT) AS circ_us
       |  FROM r GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTE prefix of the quantized-embedding oracles
    * (q_ann_ivf_recall, q_embed_dup_pairs): integer-quantized vectors `q`
    * and their exact integer norms `n` — the mirror of
    * [[graft.plans.QuantCosine.quantizeEmb]]. */
  private val quantEmbDuck: String =
    """q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1048576.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nrm
      |  FROM q)""".stripMargin

  // ------------------------------------------------- core timeseries queries

  private val core: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    // S1/P2 + A1-A6: raw → 1m tier (flagship single hash aggregate).
    "q_tier_1m" -> ((
      (s: SparkSession, dir: String) =>
        tierOut(Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 minute")),
      Some(tierOracle("minute")))),

    // A14/§7 skew: salted two-phase rollup — must equal the unsalted plan.
    "q_tier_1m_salted" -> ((
      (s: SparkSession, dir: String) =>
        tierOut(Skew.saltedRollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 minute", salts = 8)),
      Some(tierOracle("minute")))),

    // M3 cascade: 1h tier computed FROM the 1m tier (never re-scans raw);
    // oracle aggregates raw directly — proves cascade associativity.
    "q_tier_1h_cascade" -> ((
      (s: SparkSession, dir: String) => {
        val t1m = Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 minute")
        tierOut(Rollup.rollupTier(t1m, "1 hour"))
      },
      Some(tierOracle("hour")))),

    "q_tier_1d_cascade" -> ((
      (s: SparkSession, dir: String) => {
        val t1m = Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 minute")
        val t1h = Rollup.rollupTier(t1m, "1 hour")
        tierOut(Rollup.rollupTier(t1h, "1 day"))
      },
      Some(tierOracle("day")))),

    // §2.5 week anchors: Monday (floor_date default) vs Sunday (week_start=7).
    "q_week_monday" -> ((
      (s: SparkSession, dir: String) => {
        val t1d = Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 day")
        tierOut(Rollup.rollupTierBy(t1d, TimeBuckets.weekMonday(col("bucket_start"))))
      },
      Some(weekOracle(sunday = false)))),

    "q_week_sunday" -> ((
      (s: SparkSession, dir: String) => {
        val t1d = Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 day")
        tierOut(Rollup.rollupTierBy(t1d, TimeBuckets.weekSunday(col("bucket_start"))))
      },
      Some(weekOracle(sunday = true)))),

    // A9/A10 circular (circadian) mean + SD of event time-of-day per entity.
    "q_circadian" -> ((
      (s: SparkSession, dir: String) => {
        val b = Rollup.rollupAllTime(events(s, dir), col("user_id"), col("ts"), col("value"))
        Rollup
          .finalized(b)
          .select(
            col("conv_id"),
            col("n_rows"),
            round(col("circ_mean_h"), 4).as("circ_mean_h"),
            round(col("circ_sd_h"), 4).as("circ_sd_h"))
      },
      Some(
        s"""WITH b AS (
           |  SELECT user_id AS conv_id,
           |         sin(2*pi()*$todHoursDuck/24.0) AS s,
           |         cos(2*pi()*$todHoursDuck/24.0) AS c
           |  FROM events)
           |SELECT conv_id, count(*) AS n_rows,
           |  round(((atan2(sum(s), sum(c)) * 24.0 / (2*pi())) % 24 + 24) % 24, 4) AS circ_mean_h,
           |  round(sqrt(-2.0 * ln(least(sqrt(sum(s)*sum(s) + sum(c)*sum(c)) / count(*), 1.0))) * 24.0 / (2*pi()), 4) + 0.0 AS circ_sd_h
           |FROM b GROUP BY 1""".stripMargin))),

    // P7 retention window: rows at/after per-entity anchor + interval.
    // `anchors` is one row PER ENTITY — unbounded at 10^8+ conv_ids — so it
    // must NOT carry a broadcast hint: let AQE pick broadcast when the
    // runtime size is small and fall back to a shuffled join when it isn't
    // (PlanSpec asserts the plan is hint-free).
    "q_retention_14d" -> ((
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir)
        val anchors = ev.groupBy(col("user_id")).agg(min(col("ts")).as("anchor"))
        ev.join(anchors, Seq("user_id"))
          .where(TimeBuckets.afterRetentionInterval(col("ts"), col("anchor"), "14 DAY"))
          .groupBy(col("user_id").as("conv_id"))
          .agg(count(lit(1)).as("n_after"), round(sum(col("value")), 6).as("sum_after"))
      },
      Some(
        """WITH a AS (SELECT user_id, min(ts) AS anchor FROM events GROUP BY 1)
          |SELECT e.user_id AS conv_id, count(*) AS n_after, round(sum(e.value), 6) AS sum_after
          |FROM events e JOIN a USING (user_id)
          |WHERE e.ts >= a.anchor + INTERVAL 14 DAY
          |GROUP BY 1""".stripMargin))),

    // F1/F2 sliding windows over the daily tier + completeness filter
    // (reference period_dt==21/182 → here: exact 3-calendar-day coverage).
    // The daily mean is quantized to MICRO-UNIT integers and the window
    // stats derive from exact-integer windowed Σ/Σx² (order-insensitive in
    // any engine; see q_sleepsd_windows — this query shared its latent
    // `stddev_samp`-over-windowed-doubles fragility).
    "q_sliding_3d" -> ((
      (s: SparkSession, dir: String) => {
        val daily = Rollup
          .finalized(Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 day"))
          .select(col("conv_id"), col("bucket_start"),
            round(col("mean") * lit(1e6)).cast("long").as("m_us"))
        Sliding
          .slidingStatsExact(daily, col("conv_id"), col("bucket_start"), 86400L, 3,
            Seq("m" -> col("m_us")))
          .select(
            col("conv_id"), col("bucket_start"), col("m_us"),
            col("m_mean").as("mean3_us"),
            col("m_sd").as("sd3_us"))
      },
      Some(
        """WITH d AS (
          |  SELECT user_id AS conv_id, date_trunc('day', ts) AS bucket_start,
          |    CAST(round(avg(value) * 1000000.0) AS BIGINT) AS m_us
          |  FROM events GROUP BY 1, 2),
          |w AS (
          |  SELECT conv_id, bucket_start, m_us,
          |    count(*) OVER w3 AS n3,
          |    CAST(sum(m_us) OVER w3 AS BIGINT) AS s,
          |    CAST(sum(CAST(m_us AS HUGEINT) * m_us) OVER w3 AS DOUBLE) AS qd
          |  FROM d
          |  WINDOW w3 AS (PARTITION BY conv_id ORDER BY epoch(bucket_start) // 86400
          |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW))
          |SELECT conv_id, bucket_start, m_us,
          |  CAST(s AS DOUBLE) / 3.0 AS mean3_us,
          |  sqrt(greatest((qd - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 3.0) / 2.0, 0.0)) AS sd3_us
          |FROM w WHERE n3 = 3""".stripMargin))),

    // A15 full SRI epoch-grid pipeline: dense 5-min tick grid per entity,
    // activity status, 1-day (288-tick) lag agreement (functions/sri.R).
    "q_sri_grid" -> ((
      (s: SparkSession, dir: String) =>
        Sri.activityRegularity(events(s, dir), col("user_id"), col("ts"), tickSeconds = 300, lagTicks = 288)
          .select(col("conv_id"), round(col("sri"), 6).as("sri")),
      Some(
        """WITH act AS (
          |  SELECT user_id, (epoch_us(ts) // 300000000) AS tick FROM events GROUP BY 1, 2),
          |span AS (SELECT user_id, min(tick) AS lo, max(tick) AS hi FROM act GROUP BY 1),
          |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS tick FROM span),
          |st AS (
          |  SELECT g.user_id, g.tick, CASE WHEN a.tick IS NULL THEN 0 ELSE 1 END AS status
          |  FROM grid g LEFT JOIN act a ON a.user_id = g.user_id AND a.tick = g.tick),
          |lg AS (
          |  SELECT user_id, status,
          |    lag(status, 288) OVER (PARTITION BY user_id ORDER BY tick) AS prev
          |  FROM st)
          |SELECT user_id AS conv_id, round(200.0 * avg((status = prev)::int) - 100.0, 6) AS sri
          |FROM lg WHERE prev IS NOT NULL GROUP BY 1""".stripMargin))),

    // A7 ratio-of-counts percent + Between8and2 boolean
    // (percentSleepStartIn8pm2am.R:29,38-47) via the metric registry.
    "q_pct_8pm2am" -> ((
      (s: SparkSession, dir: String) =>
        MetricRegistry.summarize(
          events(s, dir).withColumn("b", Scalars.between8pm2am(col("ts"))),
          Seq(col("user_id").as("conv_id")), Seq("b" -> col("b")), Seq("percent"))
          .select(col("conv_id"), round(col("b_percent"), 6).as("pct_8pm2am")),
      Some(
        s"""SELECT user_id AS conv_id,
           |  round(sum(($todHoursDuck >= 20.0 OR $todHoursDuck <= 2.0)::int) * 100.0 / count(*), 6) AS pct_8pm2am
           |FROM events GROUP BY 1""".stripMargin))),

    // P5 QC range rules → NULL (row kept) + NA-skipping aggregate
    // (weekly-cardio-measures.R:318-330).
    "q_qc_range" -> ((
      (s: SparkSession, dir: String) => {
        val v = Scalars.qcRange(col("value"), 10.0, 90.0)
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(count(v).as("n_in_range"), round(avg(v), 6).as("mean_in_range"), count(lit(1)).as("n_rows"))
      },
      Some(
        """SELECT event_type,
          |  count(CASE WHEN value BETWEEN 10.0 AND 90.0 THEN value END) AS n_in_range,
          |  round(avg(CASE WHEN value BETWEEN 10.0 AND 90.0 THEN value END), 6) AS mean_in_range,
          |  count(*) AS n_rows
          |FROM events GROUP BY 1""".stripMargin))),

    // CardioScore range-string → scalar mean (weekly-cardio-measures.R:13-22):
    // bucket n_chars into "lo-hi" strings, then rangeMean recovers lo+49.5.
    "q_range_mean" -> ((
      (s: SparkSession, dir: String) => {
        val bucket = (col("n_chars") / 100).cast("long") * 100
        val rng = concat(bucket.cast("string"), lit("-"), (bucket + 99).cast("string"))
        tbl(s, dir, "documents")
          .select(col("lang"), Scalars.rangeMean(rng).as("rm"))
          .groupBy(col("lang"))
          .agg(round(avg(col("rm")), 6).as("mean_range_mid"), count(lit(1)).as("n_docs"))
      },
      Some(
        """WITH r AS (
          |  SELECT lang,
          |    ((n_chars // 100) * 100)::varchar || '-' || ((n_chars // 100) * 100 + 99)::varchar AS rng
          |  FROM documents)
          |SELECT lang,
          |  round(avg((string_split(rng, '-')[1]::double + string_split(rng, '-')[2]::double) / 2.0), 6) AS mean_range_mid,
          |  count(*) AS n_docs
          |FROM r GROUP BY 1""".stripMargin))),

    // F2: the long sliding window (reference sliding 26-week SD,
    // sleepSD.R:95-123) — 26 daily buckets here (the events table spans
    // 30 days), same rangeBetween + exact-completeness machinery.
    "q_sliding_26d" -> ((
      (s: SparkSession, dir: String) => {
        val daily = Rollup
          .finalized(Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 day"))
          .select(col("conv_id"), col("bucket_start"),
            round(col("mean") * lit(1e6)).cast("long").as("m_us"))
        Sliding
          .slidingStatsExact(daily, col("conv_id"), col("bucket_start"), 86400L, 26,
            Seq("m" -> col("m_us")))
          .select(
            col("conv_id"), col("bucket_start"), col("m_us"),
            col("m_mean").as("mean26_us"),
            col("m_sd").as("sd26_us"))
      },
      Some(
        """WITH d AS (
          |  SELECT user_id AS conv_id, date_trunc('day', ts) AS bucket_start,
          |    CAST(round(avg(value) * 1000000.0) AS BIGINT) AS m_us
          |  FROM events GROUP BY 1, 2),
          |w AS (
          |  SELECT conv_id, bucket_start, m_us,
          |    count(*) OVER w26 AS n26,
          |    CAST(sum(m_us) OVER w26 AS BIGINT) AS s,
          |    CAST(sum(CAST(m_us AS HUGEINT) * m_us) OVER w26 AS DOUBLE) AS qd
          |  FROM d
          |  WINDOW w26 AS (PARTITION BY conv_id ORDER BY epoch(bucket_start) // 86400
          |    RANGE BETWEEN 25 PRECEDING AND CURRENT ROW))
          |SELECT conv_id, bucket_start, m_us,
          |  CAST(s AS DOUBLE) / 26.0 AS mean26_us,
          |  sqrt(greatest((qd - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 26.0) / 25.0, 0.0)) AS sd26_us
          |FROM w WHERE n26 = 26""".stripMargin))),

    // W6/A15 SRI-style lag-agreement score (reference 2880-epoch self-lag).
    "q_sri_lag10" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("st", (col("value") > 25.0).cast("int"))
          .withColumn("pv", lag(col("st"), 10).over(w))
          .where(col("pv").isNotNull)
          .groupBy(col("user_id").as("conv_id"))
          .agg(round(lit(200.0) * avg((col("st") === col("pv")).cast("double")) - 100.0, 6).as("sri"))
      },
      Some(
        """WITH g AS (
          |  SELECT user_id, (value > 25.0)::int AS st,
          |         lag((value > 25.0)::int, 10) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
          |  FROM events)
          |SELECT user_id AS conv_id,
          |  round(200.0 * avg((st = pv)::int) - 100.0, 6) AS sri
          |FROM g WHERE pv IS NOT NULL GROUP BY 1""".stripMargin))),

    // M4 gap-fill: dense hourly grid per entity + LOCF.
    "q_gapfill_locf_1h" -> ((
      (s: SparkSession, dir: String) => {
        val t1h = Rollup
          .finalized(Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 hour"))
          .select(col("conv_id"), col("bucket_start"), round(col("mean"), 6).as("m"), col("n_rows"))
        GapFill
          .denseGrid(t1h, "1 HOUR")
          // project BEFORE the window: the LOCF sort needs only (conv_id,
          // bucket_start, m, is_gap) — carrying the unused tier columns
          // through the per-entity sort is pure shuffle/sort weight
          .select(col("conv_id"), col("bucket_start"), col("m"), col("is_gap"))
          .withColumn("filled", GapFill.locf(col("m")))
          .select(col("conv_id"), col("bucket_start"), col("filled"), col("is_gap"))
      },
      Some(
        """WITH t AS (
          |  SELECT user_id AS conv_id, date_trunc('hour', ts) AS b, round(avg(value), 6) AS m
          |  FROM events GROUP BY 1, 2),
          |span AS (SELECT conv_id, min(b) AS lo, max(b) AS hi FROM t GROUP BY 1),
          |grid AS (SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM span)
          |SELECT g.conv_id, g.b AS bucket_start,
          |  last_value(t.m IGNORE NULLS) OVER (PARTITION BY g.conv_id ORDER BY g.b
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
          |  CASE WHEN t.m IS NULL THEN 1 ELSE 0 END AS is_gap
          |FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.b = g.b""".stripMargin))),

    // M4 gap-fill: linear interpolation across null runs on the dense grid
    // (LOCF/NOCB at the edges) — the engine's second fill mode.
    "q_gapfill_interp_1h" -> ((
      (s: SparkSession, dir: String) => {
        val t1h = Rollup
          .finalized(Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 hour"))
          .select(col("conv_id"), col("bucket_start"), round(col("mean"), 6).as("m"), col("n_rows"))
        // no final rounding: the lerp is computed with identical IEEE ops
        // in identical order on identical 6dp inputs in both engines, so
        // results are bit-equal — while rounding the output would hit
        // half-tie disagreements (Spark HALF_UP vs DuckDB half-even) on the
        // exact .xxxxxx5 values a frac=1/2 lerp of 6dp inputs produces.
        // interpolatedFrom: the tier itself supplies the run-indexed
        // next-observation side, so the grid pays ONE ascending sort pass
        // plus an equi-join instead of a second full descending sort
        // (result-identical — see GapFill scaladoc + RollupSpec parity)
        GapFill
          .interpolatedFrom(
            GapFill.denseGrid(t1h, "1 HOUR")
              // project before the interp window sort (see locf note)
              .select(col("conv_id"), col("bucket_start"), col("m"), col("is_gap")),
            "m", t1h)
          .select(col("conv_id"), col("bucket_start"), col("m_interp"), col("is_gap"))
      },
      Some(
        """WITH t AS (
          |  SELECT user_id AS conv_id, date_trunc('hour', ts) AS b, round(avg(value), 6) AS m
          |  FROM events GROUP BY 1, 2),
          |span AS (SELECT conv_id, min(b) AS lo, max(b) AS hi FROM t GROUP BY 1),
          |grid AS (SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM span),
          |j AS (
          |  SELECT g.conv_id, g.b, t.m,
          |    CASE WHEN t.m IS NULL THEN 1 ELSE 0 END AS is_gap,
          |    epoch(g.b) AS x
          |  FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.b = g.b),
          |w AS (
          |  SELECT conv_id, b, m, is_gap, x,
          |    last_value(m IGNORE NULLS) OVER wf AS pv,
          |    last_value(CASE WHEN m IS NOT NULL THEN x END IGNORE NULLS) OVER wf AS px,
          |    last_value(m IGNORE NULLS) OVER wb AS nv,
          |    last_value(CASE WHEN m IS NOT NULL THEN x END IGNORE NULLS) OVER wb AS nx
          |  FROM j
          |  WINDOW wf AS (PARTITION BY conv_id ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |         wb AS (PARTITION BY conv_id ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT conv_id, b AS bucket_start,
          |  CASE
          |    WHEN m IS NOT NULL THEN m
          |    WHEN pv IS NULL THEN nv
          |    WHEN nv IS NULL THEN pv
          |    WHEN nx = px THEN pv
          |    ELSE pv + (nv - pv) * (x - px) / (nx - px) END AS m_interp,
          |  is_gap
          |FROM w""".stripMargin))),

    // D2 keep-last per (entity, bucket) — overlapping-episode dedup.
    // Stays the row_number-window form: Spark 3.5+ rewrites the rn=1
    // filter into a WindowGroupLimit (map-side top-1 per group before the
    // shuffle — effectively partial aggregation), and a max_by(struct…)
    // aggregate was MEASURED SLOWER here (0.35→0.46 s): struct/string
    // aggregation buffers are not UnsafeRow-mutable, so the whole query
    // fell from HashAggregate to a two-sort SortAggregate.
    "q_keep_last" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window
          .partitionBy(col("user_id"), date_trunc("minute", col("ts")))
          .orderBy(col("event_id").desc)
        events(s, dir)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("event_id"), col("user_id").as("conv_id"),
            date_trunc("minute", col("ts")).as("bucket_start"), col("event_type"), col("value"))
      },
      Some(
        """SELECT event_id, user_id AS conv_id, date_trunc('minute', ts) AS bucket_start,
          |  event_type, value
          |FROM events
          |QUALIFY row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
          |  ORDER BY event_id DESC) = 1""".stripMargin))),

    // A4 exact percentiles (reference median/p5/p95, calcMetrics.R:74-77).
    "q_pctl_exact" -> ((
      (s: SparkSession, dir: String) =>
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            round(expr("percentile(value, 0.05)"), 6).as("p05"),
            round(expr("percentile(value, 0.5)"), 6).as("p50"),
            round(expr("percentile(value, 0.95)"), 6).as("p95")),
      Some(
        """SELECT event_type,
          |  round(quantile_cont(value, 0.05), 6) AS p05,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.95), 6) AS p95
          |FROM events GROUP BY 1""".stripMargin))),

    // A8 NA-preserving sum: all-null group → null, not 0.
    "q_na_sum" -> ((
      (s: SparkSession, dir: String) => {
        val v = when(col("value") < 5.0, col("value"))
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            when(count(v) === 0, lit(null)).otherwise(round(sum(v), 6)).as("na_sum"),
            count(v).as("n_small"))
      },
      Some(
        """SELECT event_type,
          |  round(sum(CASE WHEN value < 5.0 THEN value END), 6) AS na_sum,
          |  count(CASE WHEN value < 5.0 THEN value END) AS n_small
          |FROM events GROUP BY 1""".stripMargin))),

    // W1 lead-transition count (NumAwakenings analog, excl. trailing row).
    "q_transitions" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .where(col("nxt").isNotNull && col("nxt") =!= col("event_type"))
          .groupBy(col("user_id").as("conv_id"))
          .agg(count(lit(1)).as("n_transitions"))
      },
      Some(
        """WITH g AS (
          |  SELECT user_id, event_type,
          |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          |  FROM events)
          |SELECT user_id AS conv_id, count(*) AS n_transitions
          |FROM g WHERE nxt IS NOT NULL AND nxt <> event_type GROUP BY 1""".stripMargin))),

    // W1 NumAwakenings semantics: transitions INTO the high state, with the
    // reference's drop-only-the-last-row rule (daily-measures.R:110-125 on
    // the events shape): a transition directly into the group's final row
    // does not count (that row would be dropped), any other trailing-run
    // transition does.
    "q_awakenings" -> ((
      (s: SparkSession, dir: String) =>
        Episodes.transitionsInto(events(s, dir),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("value") > 25.0)
          .withColumnRenamed("user_id", "conv_id"),
      Some(
        """WITH g AS (
          |  SELECT user_id, (value > 25.0)::int AS cur,
          |    lead((value > 25.0)::int) OVER w AS nxt,
          |    lead(1, 2) OVER w AS has_two_ahead
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT user_id AS conv_id, count(*) AS n_transitions
          |FROM g WHERE cur = 0 AND nxt = 1 AND has_two_ahead IS NOT NULL GROUP BY 1""".stripMargin))),

    // W4 first-match latency (REM-onset analog): first 'purchase' − first event.
    "q_first_latency" -> ((
      (s: SparkSession, dir: String) =>
        events(s, dir)
          .groupBy(col("user_id").as("conv_id"))
          .agg(
            (min(when(col("event_type") === "purchase", unix_micros(col("ts").cast("timestamp"))))
              - min(unix_micros(col("ts").cast("timestamp")))).as("latency_us")),
      Some(
        """SELECT user_id AS conv_id,
          |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) - min(epoch_us(ts)) AS latency_us
          |FROM events GROUP BY 1""".stripMargin))),

    // A12 + J8: distinct-count eligibility gate then anti-join exclusion
    // (reference n_distinct(Date) >= 2, /root/reference/scripts/sri.R:79-89).
    "q_eligibility" -> ((
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir)
        // per-entity aggregate — potentially MOST entities — so no broadcast
        // hint: AQE decides from the runtime size (see q_retention_14d note)
        val ineligible = ev
          .groupBy(col("user_id"))
          .agg(countDistinct(date_trunc("day", col("ts"))).as("n_days"))
          .where(col("n_days") < 25)
        ev.join(ineligible.select(col("user_id")), Seq("user_id"), "left_anti")
          .groupBy(col("user_id").as("conv_id"))
          .agg(count(lit(1)).as("n_events"), countDistinct(date_trunc("day", col("ts"))).as("n_days"))
      },
      Some(
        """WITH d AS (
          |  SELECT user_id, count(DISTINCT date_trunc('day', ts)) AS n_days
          |  FROM events GROUP BY 1)
          |SELECT e.user_id AS conv_id, count(*) AS n_events,
          |  count(DISTINCT date_trunc('day', e.ts)) AS n_days
          |FROM events e
          |WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.user_id = e.user_id AND d.n_days < 25)
          |GROUP BY 1""".stripMargin))),

    // A13 metric-registry fan-out: one shuffle, many stats × values
    // (reference across()/calcMetrics, timeInSleepStages.R:41-51).
    "q_registry_stats" -> ((
      (s: SparkSession, dir: String) =>
        MetricRegistry.summarize(events(s, dir), Seq(col("event_type")),
          Seq("v" -> col("value")), Seq("count", "mean", "sd", "median", "p5", "p95", "na_sum"))
          .select(col("event_type"), col("v_count"),
            round(col("v_mean"), 6).as("v_mean"), round(col("v_sd"), 6).as("v_sd"),
            round(col("v_median"), 6).as("v_median"), round(col("v_p5"), 6).as("v_p5"),
            round(col("v_p95"), 6).as("v_p95"), round(col("v_na_sum"), 6).as("v_na_sum")),
      Some(
        """SELECT event_type, count(value) AS v_count,
          |  round(avg(value), 6) AS v_mean, round(stddev_samp(value), 6) AS v_sd,
          |  round(quantile_cont(value, 0.5), 6) AS v_median,
          |  round(quantile_cont(value, 0.05), 6) AS v_p5,
          |  round(quantile_cont(value, 0.95), 6) AS v_p95,
          |  round(sum(value), 6) AS v_na_sum
          |FROM events GROUP BY 1""".stripMargin))),

    // J1/J2 multi-way assembly + broadcast dim (revenue rollup).
    "q_join_assembly" -> ((
      (s: SparkSession, dir: String) => {
        val li = tbl(s, dir, "lineitem")
        val o = tbl(s, dir, "orders")
        val c = tbl(s, dir, "customer")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(c("c_mktsegment").as("mktsegment"), date_trunc("month", o("o_orderdate")).as("month"))
          .agg(
            round(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(
        """SELECT c.c_mktsegment AS mktsegment, date_trunc('month', o.o_orderdate) AS month,
          |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |GROUP BY 1, 2""".stripMargin))),

    // J7 semi-join (EXISTS) — wear-time-gate analog.
    "q_semi_join" -> ((
      (s: SparkSession, dir: String) => {
        val o = tbl(s, dir, "orders")
        val big = tbl(s, dir, "lineitem").where(col("l_quantity") >= 49.0)
        o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      },
      Some(
        """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders o
          |WHERE EXISTS (SELECT 1 FROM lineitem l
          |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.0)""".stripMargin))),

    // J8 anti-join (NOT EXISTS) — eligibility exclusion analog.
    "q_anti_join" -> ((
      (s: SparkSession, dir: String) => {
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      },
      Some(
        """SELECT c_custkey, c_name, c_acctbal FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin))),

    // FLAGSHIP COMPOSITION (reference daily-measures.R:54-235 end-to-end on
    // the events shape): D1 distinct → per-episode derive (episode =
    // (user, day, 8h block)) → W1 awakenings + W2 fragmentation + W4
    // first-match latency → 3-way left-join assembly (J1/J2) → daily
    // reduce with circular mean + NA-skipping means + NaN→null (A3/A9/P9)
    // → NumEpisodes join (J6) + weekday label. Every stage is an
    // already-proven operator; this row proves the COMPOSITION (join-key
    // alignment, dedup-before-derive ordering, null propagation through
    // the assembly).
    "q_daily_measures" -> ((
      (s: SparkSession, dir: String) => {
        // SPARK-FIRST FUSION of the reference's join assembly: the R code
        // computes sleeplogs/awakenings/fragmentation/latency as separate
        // frames and left-joins them (the oracle below keeps that shape);
        // all four share ONE window spec and ONE grouping, so the engine
        // computes the transition flags in a single window pass and every
        // per-episode stat in a single aggregate — the join assembly
        // (still exercised by q_join_assembly) disappears from this plan:
        // 1 scan + 1 window + 2 aggregates, was 5 scans / 4 joins / 14
        // exchanges. Left-join parity: a group with ZERO qualifying
        // transition rows produced NO row in the joined frame (NULL after
        // the left join, skipped by the daily avg), so the fused counts
        // null out zeros via when(sum > 0, sum).
        // ONE exchange for the whole composition: hash(user_id) satisfies
        // the clustering every downstream operator needs — the D1 distinct
        // (equal full rows share a user_id), the per-episode window and
        // aggregate (keys start with user_id), and the daily aggregate —
        // so the explicit repartition replaces what was otherwise three
        // full-width shuffles (distinct, window sort, daily agg). Same
        // trade as Rollup.cascadeCoPartitioned: ship raw rows once instead
        // of shuffling per stage; a mega-entity lands in one task, which
        // is the reference's per-user grouping contract anyway.
        val base = Dedup.exact(events(s, dir).repartition(col("user_id"))).select(
          col("user_id"),
          date_trunc("day", col("ts")).as("day"),
          floor(hour(col("ts")) / 8).cast("int").as("ep"),
          col("ts"), col("event_id"), col("event_type"), col("value"))
        val parts = Seq(col("user_id"), col("day"), col("ep"))
        val wSpec = Window.partitionBy(parts: _*).orderBy(col("ts"), col("event_id"))
        val t1 = (col("value") > 25.0).cast("int")
        val t2 = (col("event_type") === "purchase").cast("int")
        val usCol = unix_micros(col("ts").cast("timestamp"))
        val flagged = base
          // W1 awakenings flag (reference drop-last rule: the transition
          // must not lead directly into the group's final row)
          .withColumn("_awk_f",
            (t1 === 0 && lead(t1, 1).over(wSpec) === 1
              && lead(lit(1), 2).over(wSpec).isNotNull).cast("int"))
          // W2 fragmentation numerator flag (purchase → non-purchase)
          .withColumn("_out_f", (lag(t2, 1).over(wSpec) === 1 && t2 === 0).cast("int"))
        val eps = flagged.groupBy(parts: _*).agg(
          min(col("ts")).as("first_ts"),
          avg(col("value")).as("eff"),
          count(when(col("event_type") === "purchase", 1)).as("p_cnt"),
          sum(col("_awk_f")).as("_awk_sum"),
          sum(col("_out_f")).as("_out_sum"),
          // W4 first-purchase latency from episode start, exact integer µs
          (min(when(col("event_type") === "purchase", usCol)) - min(usCol)).as("latency_us"))
          .withColumn("start_tod_h", Rollup.todHours(col("first_ts")))
          .withColumn("awk", when(col("_awk_sum") > 0, col("_awk_sum")))
          // reference remFragmentationIndex = transitions/(SleepLevelRem/60),
          // only where the denominator is positive; zero transitions = the
          // absent-left-join-row case = NULL, not 0
          .withColumn("frag", when(col("p_cnt") > 0,
            when(col("_out_sum") > 0, col("_out_sum")) / (col("p_cnt") / 60.0)))
        val daily = eps.groupBy(col("user_id").as("conv_id"), col("day")).agg(
          MetricRegistry.registry("circular_mean")(col("start_tod_h")).as("start_circ_h"),
          avg(col("eff")).as("eff_mean"),
          avg(col("awk")).as("awak_mean"),
          avg(col("frag")).as("frag_mean"),
          // average the exact integer µs (order-insensitive: integer sums
          // are exact in double), divide once — bit-equal with the oracle,
          // so lat_mean needs NO rounding (a round-6 here hits HALF_UP vs
          // half-even ties: µs-derived values have exact 6-decimal forms)
          (avg(col("latency_us")) / 1e6).as("lat_mean"),
          // J6 NumEpisodes: same grain as the episode frame — a column of
          // this aggregate, not a second aggregate + left join
          count(lit(1)).as("num_episodes"))
        daily
          .withColumn("day_name", Scalars.weekdayLabel(col("day")))
          .select(
            col("conv_id"), col("day"), col("day_name"),
            round(Scalars.nanToNull(col("start_circ_h")), 6).as("start_circ_h"),
            round(Scalars.nanToNull(col("eff_mean")), 6).as("eff_mean"),
            round(Scalars.nanToNull(col("awak_mean")), 6).as("awak_mean"),
            col("num_episodes"),
            round(Scalars.nanToNull(col("frag_mean")), 6).as("frag_mean"),
            Scalars.nanToNull(col("lat_mean")).as("lat_mean"))
      },
      Some(
        """WITH d AS (SELECT DISTINCT * FROM events),
          |b AS (
          |  SELECT user_id, date_trunc('day', ts) AS day,
          |         CAST(floor(hour(ts) / 8) AS INT) AS ep,
          |         ts, event_id, event_type, value
          |  FROM d),
          |eps AS (
          |  SELECT user_id, day, ep, min(ts) AS first_ts, avg(value) AS eff,
          |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS p_cnt
          |  FROM b GROUP BY 1, 2, 3),
          |epst AS (
          |  SELECT *, (floor(epoch_us(first_ts) % 86400000000 / 1000000) / 3600.0) AS start_tod_h
          |  FROM eps),
          |aw AS (
          |  SELECT user_id, day, ep, count(*) AS awk FROM (
          |    SELECT user_id, day, ep, (value > 25.0)::int AS cur,
          |      lead((value > 25.0)::int) OVER w AS nxt,
          |      lead(1, 2) OVER w AS has2
          |    FROM b
          |    WINDOW w AS (PARTITION BY user_id, day, ep ORDER BY ts, event_id))
          |  WHERE cur = 0 AND nxt = 1 AND has2 IS NOT NULL GROUP BY 1, 2, 3),
          |fr AS (
          |  SELECT user_id, day, ep, count(*) AS n_out FROM (
          |    SELECT user_id, day, ep, (event_type = 'purchase')::int AS cur,
          |      lag((event_type = 'purchase')::int) OVER
          |        (PARTITION BY user_id, day, ep ORDER BY ts, event_id) AS prev
          |    FROM b)
          |  WHERE prev = 1 AND cur = 0 GROUP BY 1, 2, 3),
          |la AS (
          |  SELECT user_id, day, ep,
          |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) - min(epoch_us(ts))
          |      AS latency_us
          |  FROM b GROUP BY 1, 2, 3),
          |j AS (
          |  SELECT e.user_id, e.day, e.ep, e.start_tod_h, e.eff,
          |         aw.awk, la.latency_us,
          |         CASE WHEN e.p_cnt > 0 THEN fr.n_out / (e.p_cnt / 60.0) END AS frag
          |  FROM epst e
          |  LEFT JOIN aw USING (user_id, day, ep)
          |  LEFT JOIN fr USING (user_id, day, ep)
          |  LEFT JOIN la USING (user_id, day, ep)),
          |daily AS (
          |  SELECT user_id AS conv_id, day,
          |    round(((atan2(avg(sin(2*pi()*start_tod_h/24.0)), avg(cos(2*pi()*start_tod_h/24.0)))
          |      * 24.0 / (2*pi())) % 24 + 24) % 24, 6) AS start_circ_h,
          |    round(avg(eff), 6) AS eff_mean,
          |    round(avg(awk), 6) AS awak_mean,
          |    round(avg(frag), 6) AS frag_mean,
          |    avg(latency_us) / 1e6 AS lat_mean
          |  FROM j GROUP BY 1, 2),
          |ne AS (SELECT user_id AS conv_id, day, count(*) AS num_episodes FROM eps GROUP BY 1, 2)
          |SELECT dd.conv_id, dd.day, dayname(dd.day) AS day_name,
          |  dd.start_circ_h, dd.eff_mean, dd.awak_mean, ne.num_episodes, dd.frag_mean, dd.lat_mean
          |FROM daily dd LEFT JOIN ne USING (conv_id, day)""".stripMargin))),

    // Unit standardization (standardize_units.R:15-42): per-column
    // registry rules applied iff the column exists — s→min, h→min, ms→min
    // on a daily-measures-like frame.
    "q_units" -> ((
      (s: SparkSession, dir: String) => {
        val usCol = unix_micros(col("ts").cast("timestamp"))
        val base = events(s, dir).groupBy(col("user_id").as("conv_id")).agg(
          ((min(when(col("event_type") === "purchase", usCol)) - min(usCol)) / 1e6).as("lat_s"),
          ((max(usCol) - min(usCol)) / lit(1000.0)).as("dur_ms"))
          .withColumn("circ_h", lit(7.25))
        // NO rounding: the rescale is one multiply by the same compile-time
        // factor on values both engines derive by identical IEEE ops from
        // integer µs — results are bit-equal; rounding would reintroduce
        // HALF_UP-vs-half-even ties on these exact-decimal values
        graft.functions.Units.standardizeByUnits(base, Map(
          "lat_s" -> ("s", "min"),
          "dur_ms" -> ("ms", "min"),
          "circ_h" -> ("h", "min"),
          "absent_col" -> ("us", "min"))) // absent → skipped (reference %in% colnames)
          .select(col("conv_id"), col("lat_s"), col("dur_ms"), col("circ_h"))
      },
      Some(
        """WITH b AS (
          |  SELECT user_id AS conv_id,
          |    (min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) - min(epoch_us(ts))) / 1e6
          |      AS lat_s,
          |    (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000.0 AS dur_ms
          |  FROM events GROUP BY 1)
          |SELECT conv_id,
          |  lat_s * (1.0 / 60.0) AS lat_s,
          |  dur_ms * (0.001 / 60.0) AS dur_ms,
          |  7.25 * (3600.0 / 60.0) AS circ_h
          |FROM b""".stripMargin))),

    // Metadata-table-driven projection (fetch-data.R:13-22): a selected_vars
    // CSV side table decides which event columns are read; the projection
    // reaches the parquet scan as column pruning (PlanSpec asserts it).
    "q_selected_vars" -> ((
      (s: SparkSession, dir: String) => {
        import graft.sources.SelectedVars
        val csv = java.nio.file.Files.createTempDirectory("selvars").resolve("selected_vars.csv")
        java.nio.file.Files.write(csv,
          "Export,Variable\nevents,user_id\nevents,value\ndocuments,doc_id\n".getBytes)
        val selected = SelectedVars.read(s, csv.toString)
        SelectedVars.projectTo(events(s, dir), selected, "events")
          .groupBy(col("user_id").as("conv_id"))
          .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 6).as("sum_v"))
      },
      Some(
        """SELECT user_id AS conv_id, count(*) AS n_rows, round(sum(value), 6) AS sum_v
          |FROM events GROUP BY 1""".stripMargin))),

    // S4/S3 CSV sink + scan round-trip (reference write_csv egress +
    // stringly-typed CSV re-ingest with cast-on-read): events projected to
    // CSV, read back with inferred-string columns recast, aggregated —
    // must equal the same aggregate straight off parquet (doubles survive
    // text round-trips bit-exactly via shortest-roundtrip rendering).
    "q_csv_roundtrip" -> ((
      (s: SparkSession, dir: String) => {
        // fixed per-(sf, PROCESS) path + overwrite (matches the
        // /tmp/graft_bench_* caching convention) — createTempDirectory
        // leaked a full CSV copy of events per invocation, while a purely
        // per-sf path let two concurrent JVMs (Bench overlapping Verify)
        // race one's overwrite-write against the other's re-read; the pid
        // component keeps reuse within a process and isolation across
        // them, and a shutdown hook reclaims the per-process directory so
        // repeated rounds don't accumulate CSV copies of events in /tmp
        val out = s"/tmp/graft_csv_rt_${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"_p${ProcessHandle.current().pid()}"
        deleteOnExit(out)
        events(s, dir)
          .select(col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").option("header", true).csv(out)
        s.read.option("header", true).csv(out)
          .select(col("user_id").cast("long").as("conv_id"),
            col("event_type"), col("value").cast("double").as("v"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("conv_id")).as("n_users"),
            round(sum(col("v")), 6).as("sum_v"))
      },
      Some(
        """SELECT event_type, count(*) AS n_rows,
          |  count(DISTINCT user_id) AS n_users,
          |  round(sum(value), 6) AS sum_v
          |FROM events GROUP BY 1""".stripMargin))),

    // A11: anchor = min over TWO date columns (reference infection anchor,
    // sleepSD.R:9-13 min(least(d1, d2))) — per customer, over each order's
    // date and its items' ship dates.
    "q_anchor_least" -> ((
      (s: SparkSession, dir: String) => {
        val li = tbl(s, dir, "lineitem")
        val o = tbl(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(o("o_custkey").as("custkey"))
          .agg(min(least(li("l_shipdate"), o("o_orderdate"))).as("anchor"))
      },
      Some(
        """SELECT o.o_custkey AS custkey, min(least(l.l_shipdate, o.o_orderdate)) AS anchor
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |GROUP BY 1""".stripMargin))),

    // F3: sliding SRI — daily SRI series (bucketed lag-agreement) composed
    // with the 3-bucket sliding window + completeness filter
    // (sri.R:96-121,181-195). Bit-stable by construction: the daily score
    // is an EXACT micro-unit integer derived from the operator's integer
    // (compared, disagree) counts — sri_us = floor(1e8·(t−2d)/t), the
    // micro form of 200·(t−d)/t − 100, where the double-division floor is
    // exact (|1e8·(t−2d)| < 2^53 and the fractional part ≥ 1/t dwarfs the
    // division's rounding error) — and the window stats come from exact
    // integer Σ/Σx² (see q_sleepsd_windows for the failure mode this
    // construction removes).
    "q_sri_daily_sliding" -> ((
      (s: SparkSession, dir: String) => {
        val daily = Sri.activityRegularityBucketedCounts(events(s, dir), col("user_id"), col("ts"),
          tickSeconds = 300, lagTicks = 288, bucketSeconds = 86400L)
          .select(col("conv_id"), col("bucket_start"),
            floor((lit(100000000L) * (col("cmp_ticks") - lit(2L) * col("disagree"))).cast("double")
              / col("cmp_ticks")).cast("long").as("sri_us"))
        Sliding.slidingStatsExact(daily, col("conv_id"), col("bucket_start"), 86400L, 3,
          Seq("sri" -> col("sri_us")))
          .select(col("conv_id"),
            TimeBuckets.epochIdx(col("bucket_start"), 86400L).as("day_idx"),
            col("sri_us"),
            col("sri_mean").as("sri3_mean_us"),
            col("sri_sd").as("sri3_sd_us"))
      },
      Some(
        """WITH act AS (
          |  SELECT user_id, (epoch_us(ts) // 300000000) AS tick FROM events GROUP BY 1, 2),
          |span AS (SELECT user_id, min(tick) AS lo, max(tick) AS hi FROM act GROUP BY 1),
          |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS tick FROM span),
          |st AS (
          |  SELECT g.user_id, g.tick, CASE WHEN a.tick IS NULL THEN 0 ELSE 1 END AS status
          |  FROM grid g LEFT JOIN act a ON a.user_id = g.user_id AND a.tick = g.tick),
          |lg AS (
          |  SELECT user_id, tick, status,
          |    lag(status, 288) OVER (PARTITION BY user_id ORDER BY tick) AS prev
          |  FROM st),
          |daily AS (
          |  SELECT user_id AS conv_id, (tick * 300) // 86400 AS day_idx,
          |    count(*) AS t, sum((status <> prev)::int) AS d
          |  FROM lg WHERE prev IS NOT NULL GROUP BY 1, 2),
          |di AS (
          |  SELECT conv_id, day_idx,
          |    CAST(floor(CAST(100000000 * (t - 2*d) AS DOUBLE) / t) AS BIGINT) AS sri_us
          |  FROM daily),
          |w AS (
          |  SELECT conv_id, day_idx, sri_us,
          |    count(*) OVER ws AS n,
          |    CAST(sum(sri_us) OVER ws AS BIGINT) AS s,
          |    CAST(sum(CAST(sri_us AS HUGEINT) * sri_us) OVER ws AS DOUBLE) AS qd
          |  FROM di
          |  WINDOW ws AS (PARTITION BY conv_id ORDER BY day_idx
          |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW))
          |SELECT conv_id, day_idx, sri_us,
          |  CAST(s AS DOUBLE) / 3.0 AS sri3_mean_us,
          |  sqrt(greatest((qd - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 3.0) / 2.0, 0.0)) AS sri3_sd_us
          |FROM w WHERE n = 3""".stripMargin))),

    // Gap-based conversation sessionization (session_window built-in):
    // events of one user within 30min of the previous event form a session;
    // oracle = classic gaps-and-islands (lag + running sum of gap flags).
    "q_session_window" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.Sessionize.sessions(
          events(s, dir), col("user_id"), col("ts"), "30 minutes",
          aggs = Seq(round(sum(col("value")), 6).as("sum_v")))
          .select(col("conv_id"), col("session_start"), col("last_ts"),
            col("n_events"), col("sum_v")),
      Some(
        """WITH g AS (
          |  SELECT user_id, ts, value,
          |    CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |i AS (
          |  SELECT user_id, ts, value,
          |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g)
          |SELECT user_id AS conv_id, min(ts) AS session_start, max(ts) AS last_ts,
          |  count(*) AS n_events, round(sum(value), 6) AS sum_v
          |FROM i GROUP BY user_id, sid""".stripMargin))),

    // FLAGSHIP COMPOSITION #2 (reference weekly-cardio-measures.R:256-608
    // end-to-end on the events shape): QC-range→NULL (P5, rows kept) →
    // wear-time-gate semi-join (J7: only (user, day)s with ≥3 events pass,
    // the ≥480-min analog) → Sunday-anchored weekly rollup with
    // NA-preserving sum + non-null count + mean blocks (A8/A13 registry)
    // → unpivot to long concept rows (J9) → day-count expansion into
    // multiple concept names unioned on (J10). Every stage is an
    // individually-proven operator; this row proves the COMPOSITION
    // (gate-before-rollup ordering, NA preservation through the unpivot,
    // concept-name fan-out alignment).
    "q_weekly_concepts" -> ((
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir)
        val qc = ev
          .withColumn("v", Scalars.qcRange(col("value"), 10.0, 90.0))
          .withColumn("day", date_trunc("day", col("ts")))
        // gate days by raw-row count BEFORE the weekly rollup (reference
        // gates on wear-time minutes, then aggregates the survivors); the
        // per-day aggregate is unbounded in (user, day) — no broadcast
        // hint, AQE decides (left-semi join). A window-count gate was
        // measured 2× slower here: it shuffles every row by (user, day)
        // where this form's day-list aggregate combines map-side and AQE
        // broadcasts it.
        val gated = qc.join(
          qc.groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
            .where(col("n") >= 3)
            .select(col("user_id"), col("day")),
          Seq("user_id", "day"), "left_semi")
          .withColumn("week_start", TimeBuckets.weekSunday(col("ts")))
        // the weekly day count rides the SAME aggregate as the registry
        // stats (same grain) — a separate daycount aggregate + unionByName
        // re-ran the gate join and the weekly shuffle in a second plan
        // branch (the union form of J9/J10 stays exercised by q_unpivot_1d)
        val as = MetricRegistry.aggs(Seq("v" -> col("v")), Seq("na_sum", "count", "mean"))
        val weekly = gated
          .groupBy(col("user_id").as("conv_id"), col("week_start"))
          .agg(as.head, (as.tail :+ countDistinct(col("day")).cast("double").as("daycount")): _*)
        weekly.select(col("conv_id"), col("week_start"),
          round(col("v_na_sum"), 6).as("v_na_sum"),
          col("v_count").cast("double").as("v_count"),
          round(col("v_mean"), 6).as("v_mean"),
          col("daycount"))
          // J10 fan-out: the one daycount value lands under TWO concept
          // names — two stack slots sharing the column
          .select(col("conv_id"), col("week_start"), expr(
            """stack(5,
              |  'summary:weekly:v_na_sum', v_na_sum,
              |  'summary:weekly:v_count', v_count,
              |  'summary:weekly:v_mean', v_mean,
              |  'summary:weekly:daycount:v', daycount,
              |  'adherence:weekly:daycount:v', daycount) AS (concept, nval_num)""".stripMargin))
      },
      Some(
        """WITH q AS (
          |  SELECT user_id, ts, date_trunc('day', ts) AS day,
          |    CASE WHEN value BETWEEN 10.0 AND 90.0 THEN value END AS v
          |  FROM events),
          |g AS (SELECT user_id, day FROM q GROUP BY 1, 2 HAVING count(*) >= 3),
          |f AS (SELECT q.* FROM q JOIN g USING (user_id, day)),
          |w AS (
          |  SELECT user_id AS conv_id,
          |    date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week_start,
          |    round(sum(v), 6) AS v_na_sum,
          |    count(v)::double AS v_count,
          |    round(avg(v), 6) AS v_mean
          |  FROM f GROUP BY 1, 2),
          |dc AS (
          |  SELECT user_id AS conv_id,
          |    date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week_start,
          |    count(DISTINCT day)::double AS nval_num
          |  FROM f GROUP BY 1, 2)
          |SELECT conv_id, week_start, 'summary:weekly:v_na_sum' AS concept, v_na_sum AS nval_num FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:v_count' AS concept, v_count FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:v_mean' AS concept, v_mean FROM w
          |UNION ALL SELECT dc.conv_id, dc.week_start, t.concept, dc.nval_num
          |  FROM dc CROSS JOIN (VALUES ('summary:weekly:daycount:v'),
          |    ('adherence:weekly:daycount:v')) t(concept)""".stripMargin))),

    // FLAGSHIP COMPOSITION #4 (reference weekly-hrv-measures.R:149-283
    // end-to-end on the events shape): 5 per-day HRV-style variables
    // (masked NA-skipping daily means of rmssd/coverage/hf/lf + the
    // derived lf/hf ratio, :185-220) → wear-time day gate from an
    // INDEPENDENT daily aggregate (≥480-min analog, :155-166,232-237) →
    // weekly means + record-count total (:246-251) → unpivot into
    // 'summary:weekly:mean:<var>' + 'summary:weekly:numrecords:hrv'
    // concept rows (:258-283). With this, every reference top-level
    // script has a composed end-to-end oracle row.
    "q_weekly_hrv" -> ((
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir).withColumn("day", date_trunc("day", col("ts")))
        def m(t: String) = Scalars.maskUnless(col("value"), col("event_type") === t)
        val daily = ev.groupBy(col("user_id"), col("day"))
          .agg(
            avg(m("click")).as("rmssd"),
            avg(m("view")).as("coverage"),
            avg(m("purchase")).as("hf"),
            avg(m("error")).as("lf"),
            count(lit(1)).as("nrec"))
          // hf can be exactly 0.0 (a day whose only purchases are value
          // 0.0); ANSI division errors where DuckDB yields inf — guard to
          // NULL on BOTH sides so the engines agree
          .withColumn("ratiof", when(col("hf") =!= 0.0, col("lf") / col("hf")))
        // the wear gate comes from its own aggregate over the raw rows
        // (reference reads a separate dailydata table) — unbounded small
        // side, hint-free semi-join, AQE decides
        val wear = ev.groupBy(col("user_id"), col("day"))
          .agg(count(lit(1)).as("n")).where(col("n") >= 4)
          .select(col("user_id"), col("day"))
        val gated = daily.join(wear, Seq("user_id", "day"), "left_semi")
          .withColumn("week_start", TimeBuckets.weekSunday(col("day")))
        val weekly = gated.groupBy(col("user_id").as("conv_id"), col("week_start"))
          .agg(
            round(avg(col("rmssd")), 6).as("hrv_rmssd"),
            round(avg(col("coverage")), 6).as("hrv_coverage"),
            round(avg(col("hf")), 6).as("hf"),
            round(avg(col("lf")), 6).as("lf"),
            round(avg(col("ratiof")), 6).as("ratiof"),
            sum(col("nrec")).cast("double").as("nrec"))
        weekly.select(col("conv_id"), col("week_start"),
          expr("""stack(6,
            'summary:weekly:mean:hrv_rmssd', hrv_rmssd,
            'summary:weekly:mean:hrv_coverage', hrv_coverage,
            'summary:weekly:mean:hf', hf,
            'summary:weekly:mean:lf', lf,
            'summary:weekly:mean:ratiof', ratiof,
            'summary:weekly:numrecords:hrv', nrec) AS (concept, nval_num)"""))
      },
      Some(
        """WITH daily AS (
          |  SELECT user_id, date_trunc('day', ts) AS day,
          |    avg(CASE WHEN event_type = 'click' THEN value END) AS rmssd,
          |    avg(CASE WHEN event_type = 'view' THEN value END) AS coverage,
          |    avg(CASE WHEN event_type = 'purchase' THEN value END) AS hf,
          |    avg(CASE WHEN event_type = 'error' THEN value END) AS lf,
          |    count(*) AS nrec
          |  FROM events GROUP BY 1, 2),
          |wear AS (
          |  SELECT user_id, date_trunc('day', ts) AS day
          |  FROM events GROUP BY 1, 2 HAVING count(*) >= 4),
          |g AS (
          |  SELECT d.*, CASE WHEN d.hf <> 0 THEN d.lf / d.hf END AS ratiof
          |  FROM daily d JOIN wear w USING (user_id, day)),
          |w AS (
          |  SELECT user_id AS conv_id,
          |    date_trunc('week', day + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week_start,
          |    round(avg(rmssd), 6) AS hrv_rmssd,
          |    round(avg(coverage), 6) AS hrv_coverage,
          |    round(avg(hf), 6) AS hf,
          |    round(avg(lf), 6) AS lf,
          |    round(avg(ratiof), 6) AS ratiof,
          |    sum(nrec)::double AS nrec
          |  FROM g GROUP BY 1, 2)
          |SELECT conv_id, week_start, 'summary:weekly:mean:hrv_rmssd' AS concept, hrv_rmssd AS nval_num FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:mean:hrv_coverage', hrv_coverage FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:mean:hf', hf FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:mean:lf', lf FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:mean:ratiof', ratiof FROM w
          |UNION ALL SELECT conv_id, week_start, 'summary:weekly:numrecords:hrv', nrec FROM w""".stripMargin))),

    // FLAGSHIP COMPOSITION #5 (reference weekly-sleep-efficiencies.R:20-180
    // end-to-end on the events shape): D1 distinct on load (:101) →
    // per-record Efficiency_computed = getSleepEfficiency with R's
    // na.rm-sum semantics and EXACT-integer round(100·num/den)
    // (Scalars.efficiencyPct; :20-50,116) beside the vendor Efficiency
    // column (:104) → Sunday-anchored weekly means of both, NA-skipping
    // (WeeklyMeans, :52-90,161) — the vendor-vs-computed comparison pair
    // the script plots. Level fields are deterministic integer derivations
    // of (event_id, value) with per-field NULL masks so the na.rm and
    // all-NA→NULL paths actually fire; classic/stages/other typing comes
    // from event_type so the unknown-Type→NA branch fires too. Weekly
    // means of integers are bit-stable: exact integer sums, one division.
    "q_weekly_eff" -> ((
      (s: SparkSession, dir: String) => {
        val ev = events(s, dir)
        val recs = ev.select(
          col("user_id").as("conv_id"),
          col("event_id"),
          TimeBuckets.weekSunday(col("ts")).as("week_start"),
          when(col("event_type").isin("click", "view"), lit("classic"))
            .when(col("event_type").isin("purchase", "signup"), lit("stages"))
            .otherwise(lit("other")).as("typ"),
          when(col("event_id") % 19 =!= 0, floor(col("value")) % 101).as("eff_vendor"),
          when(col("event_id") % 11 =!= 0, col("event_id") % 13).as("awake"),
          when(col("event_id") % 5 =!= 0, floor(col("value"))).as("asleep"),
          when(col("event_id") % 7 =!= 0, col("event_id") % 45).as("restless"),
          when(col("event_id") % 6 =!= 0, floor(col("value") / 2)).as("light"),
          when(col("event_id") % 8 =!= 0, col("event_id") % 29).as("deep"),
          when(col("event_id") % 9 =!= 0, col("event_id") % 17).as("rem"),
          when(col("event_id") % 10 =!= 0, col("event_id") % 9).as("wake"))
          .distinct()
        recs
          .withColumn("eff_computed",
            Scalars.efficiencyPct(col("typ"), col("awake"), col("asleep"), col("restless"),
              col("light"), col("deep"), col("rem"), col("wake")))
          .groupBy(col("conv_id"), col("week_start"))
          .agg(
            count(lit(1)).as("n_records"),
            count(col("eff_computed")).as("n_scored"),
            avg(col("eff_vendor")).as("eff_vendor_mean"),
            avg(col("eff_computed")).as("eff_computed_mean"))
      },
      Some(
        """WITH rec AS (
          |  SELECT DISTINCT
          |    user_id AS conv_id, event_id,
          |    date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week_start,
          |    CASE WHEN event_type IN ('click','view') THEN 'classic'
          |         WHEN event_type IN ('purchase','signup') THEN 'stages'
          |         ELSE 'other' END AS typ,
          |    CASE WHEN event_id % 19 <> 0 THEN floor(value)::BIGINT % 101 END AS eff_vendor,
          |    CASE WHEN event_id % 11 <> 0 THEN event_id % 13 END AS awake,
          |    CASE WHEN event_id % 5 <> 0 THEN floor(value)::BIGINT END AS asleep,
          |    CASE WHEN event_id % 7 <> 0 THEN event_id % 45 END AS restless,
          |    CASE WHEN event_id % 6 <> 0 THEN floor(value / 2)::BIGINT END AS light,
          |    CASE WHEN event_id % 8 <> 0 THEN event_id % 29 END AS deep,
          |    CASE WHEN event_id % 9 <> 0 THEN event_id % 17 END AS rem,
          |    CASE WHEN event_id % 10 <> 0 THEN event_id % 9 END AS wake
          |  FROM events),
          |nd AS (
          |  SELECT *,
          |    CASE WHEN typ = 'classic' THEN coalesce(asleep, 0) + coalesce(restless, 0)
          |         WHEN typ = 'stages' THEN coalesce(light, 0) + coalesce(deep, 0) + coalesce(rem, 0)
          |    END AS num,
          |    CASE WHEN typ = 'classic' THEN coalesce(awake, 0) + coalesce(asleep, 0) + coalesce(restless, 0)
          |         WHEN typ = 'stages' THEN coalesce(light, 0) + coalesce(deep, 0) + coalesce(rem, 0) + coalesce(wake, 0)
          |    END AS den
          |  FROM rec),
          |sc AS (
          |  SELECT conv_id, week_start, eff_vendor, num, den,
          |    CAST(floor(CAST(100 * num AS DOUBLE) / CAST(NULLIF(den, 0) AS DOUBLE)) AS BIGINT) AS fl
          |  FROM nd),
          |ef AS (
          |  SELECT conv_id, week_start, eff_vendor,
          |    CASE WHEN den > 0 THEN
          |      CASE WHEN abs((200 * num) % (2 * den)) = den
          |           THEN CASE WHEN fl % 2 = 0 THEN fl ELSE fl + 1 END
          |           ELSE CAST(floor(CAST(200 * num + den AS DOUBLE) / CAST(2 * den AS DOUBLE)) AS BIGINT)
          |      END
          |    END AS eff_computed
          |  FROM sc)
          |SELECT conv_id, week_start, count(*) AS n_records, count(eff_computed) AS n_scored,
          |  avg(eff_vendor) AS eff_vendor_mean, avg(eff_computed) AS eff_computed_mean
          |FROM ef GROUP BY 1, 2""".stripMargin))),

    // The FAITHFUL episode-grid SRI (functions/sri.R:27-61): episodes with
    // (start, end, status, source-order) explode to 300s ticks, overlaps
    // dedup keep-LAST by source order (:37-39), the per-entity span
    // densifies with gap-fill status 0 (:47-61), and the 1-day-lag
    // agreement scores (:4-9). Episodes are derived deterministically from
    // events (episode = [ts, ts + 600 + floor(value) seconds], status 1
    // for click/view else 0, source order = event_id); q_sri_grid covers
    // the sparse ACTIVITY form — this row exercises Sri.episodeSri, the
    // reference's true input shape.
    "q_episode_sri" -> ((
      (s: SparkSession, dir: String) => {
        val ep = events(s, dir).select(
          col("user_id"),
          col("event_id"),
          when(col("event_type").isin("click", "view"), lit(1)).otherwise(lit(0)).as("st"),
          col("ts").as("ep_start"),
          timestamp_seconds(unix_timestamp(col("ts").cast("timestamp"))
            + lit(600L) + floor(col("value")).cast("long")).as("ep_end"))
        Sri.episodeSri(ep, col("user_id"), col("ep_start"), col("ep_end"), col("st"),
            col("event_id"), tickSeconds = 300, lagTicks = 288)
          .select(col("conv_id"), round(col("sri"), 6).as("sri"))
      },
      Some(
        """WITH ep AS (
          |  SELECT user_id, event_id,
          |    CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END AS st,
          |    (epoch_us(ts) // 1000000) // 300 AS t0,
          |    ((epoch_us(ts) // 1000000) + 600 + floor(value)::BIGINT) // 300 AS t1
          |  FROM events),
          |tk AS (
          |  SELECT user_id, event_id, st, unnest(generate_series(t0, t1)) AS tick FROM ep),
          |dd AS (
          |  SELECT user_id, tick, st FROM tk
          |  WINDOW w AS (PARTITION BY user_id, tick ORDER BY event_id DESC)
          |  QUALIFY row_number() OVER w = 1),
          |span AS (SELECT user_id, min(tick) AS lo, max(tick) AS hi FROM dd GROUP BY 1),
          |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS tick FROM span),
          |st AS (
          |  SELECT g.user_id, g.tick, coalesce(d.st, 0) AS status
          |  FROM grid g LEFT JOIN dd d ON d.user_id = g.user_id AND d.tick = g.tick),
          |lg AS (
          |  SELECT user_id, status,
          |    lag(status, 288) OVER (PARTITION BY user_id ORDER BY tick) AS prev
          |  FROM st)
          |SELECT user_id AS conv_id, round(200.0 * avg((status = prev)::int) - 100.0, 6) AS sri
          |FROM lg WHERE prev IS NOT NULL GROUP BY 1""".stripMargin))),

    // FLAGSHIP COMPOSITION #3 (reference sleepSD.R:52-266 on the events
    // shape): A11 anchor = min over TWO per-entity date aggregates with NA
    // handling (the infection anchor, sleepSD.R:9-13) → P7 post-anchor
    // retention filter → A10 circular SD of time-of-day per (entity, day)
    // → F1/F2 sliding 3- AND 26-bucket window stats with the reference's
    // exact-completeness rule (period_dt==21/182 → here count==width;
    // incomplete windows yield NULL, not dropped rows, so both widths live
    // in one result).
    //
    // BIT-STABLE BY CONSTRUCTION: the daily circular SD is quantized to
    // MICRO-HOUR integers (cast(round(x·1e6) as bigint) on both sides),
    // and the window stats derive from exact-integer windowed Σ and Σx² —
    // order-insensitive in ANY engine — with the only FP ops a fixed final
    // division/sqrt sequence over those identical integers (3·q−s² ≥ 0 by
    // Cauchy-Schwarz on exact ints, so the sqrt needs no guard). Two
    // consecutive rounds failed the driver's hash on this query while
    // being bit-identical under local DuckDB 1.0.0: windowed avg /
    // stddev_samp over doubles is summation-order- and algorithm-dependent
    // across DuckDB versions, and the stddev's cancellation amplifies the
    // last-ulp disagreement past 6-decimal rounding. Integer-domain window
    // sums remove the order dependence entirely.
    "q_sleepsd_windows" -> ((
      (s: SparkSession, dir: String) => {
        val daily = sleepSdDaily(s, dir)
        val w3 = Window.partitionBy(col("conv_id")).orderBy(col("day_idx")).rangeBetween(-2, 0)
        val w26 = Window.partitionBy(col("conv_id")).orderBy(col("day_idx")).rangeBetween(-25, 0)
        daily.select(
          col("conv_id"), col("day_idx"), col("circ_us"),
          count(lit(1)).over(w3).as("_n3"),
          sum(col("circ_us")).over(w3).as("_s3"),
          sum(col("circ_us") * col("circ_us")).over(w3).as("_q3"),
          count(lit(1)).over(w26).as("_n26"),
          sum(col("circ_us")).over(w26).as("_s26"))
          .select(
            col("conv_id"), col("day_idx"), col("circ_us"),
            when(col("_n3") === 3, col("_s3").cast("double") / lit(3.0)).as("sd3_mean_us"),
            when(col("_n3") === 3,
              sqrt((lit(3L) * col("_q3") - col("_s3") * col("_s3")).cast("double") / lit(6.0)))
              .as("sd3_sd_us"),
            when(col("_n26") === 26, col("_s26").cast("double") / lit(26.0)).as("sd26_mean_us"))
      },
      Some(
        s"""WITH $sleepSdDailySql,
           |w AS (
           |  SELECT conv_id, day_idx, circ_us,
           |    count(*) OVER w3 AS n3,
           |    CAST(sum(circ_us) OVER w3 AS BIGINT) AS s3,
           |    CAST(sum(circ_us * circ_us) OVER w3 AS BIGINT) AS q3,
           |    count(*) OVER w26 AS n26,
           |    CAST(sum(circ_us) OVER w26 AS BIGINT) AS s26
           |  FROM d
           |  WINDOW w3 AS (PARTITION BY conv_id ORDER BY day_idx RANGE BETWEEN 2 PRECEDING AND CURRENT ROW),
           |         w26 AS (PARTITION BY conv_id ORDER BY day_idx RANGE BETWEEN 25 PRECEDING AND CURRENT ROW))
           |SELECT conv_id, day_idx, circ_us,
           |  CASE WHEN n3 = 3 THEN CAST(s3 AS DOUBLE) / 3.0 END AS sd3_mean_us,
           |  CASE WHEN n3 = 3 THEN sqrt(CAST(3 * q3 - s3 * s3 AS DOUBLE) / 6.0) END AS sd3_sd_us,
           |  CASE WHEN n26 = 26 THEN CAST(s26 AS DOUBLE) / 26.0 END AS sd26_mean_us
           |FROM w""".stripMargin))),

    // Bisection row for the flagship above: JUST the anchored-retention
    // daily circular SD in micro-hours (the window stage stripped away) —
    // if the flagship ever goes hash-red again, this row tells the next
    // builder WHICH stage diverged (daily aggregate vs window machinery).
    "q_sleepsd_daily" -> ((
      (s: SparkSession, dir: String) => sleepSdDaily(s, dir),
      Some(s"WITH $sleepSdDailySql SELECT conv_id, day_idx, circ_us FROM d"))),

    // P4 any-non-empty-string row filter (daily-measures.R:113,132,169):
    // rows survive iff ANY of the candidate columns is a non-NULL,
    // non-empty string — here two conditionally-masked derivations, so the
    // filter actually drops rows (~55%) rather than passing everything.
    "q_any_nonempty" -> ((
      (s: SparkSession, dir: String) => {
        val d = tbl(s, dir, "documents")
          .withColumn("a", when(col("n_chars") >= 500, col("text")).otherwise(lit("")))
          .withColumn("b", when(col("lang") === "en", col("lang")).otherwise(lit("")))
        d.where(Scalars.anyNonEmpty(Seq(col("a"), col("b"))))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      },
      Some(
        """WITH d AS (
          |  SELECT source, n_chars,
          |    CASE WHEN n_chars >= 500 THEN text ELSE '' END AS a,
          |    CASE WHEN lang = 'en' THEN lang ELSE '' END AS b
          |  FROM documents)
          |SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
          |FROM d
          |WHERE (a IS NOT NULL AND a <> '') OR (b IS NOT NULL AND b <> '')
          |GROUP BY 1""".stripMargin))),

    // P8 conditional masking (daily-measures.R:64-65): a value column is
    // masked to NULL unless its flag holds, then aggregated NA-skipping —
    // the masked rows must vanish from mean AND count but not from n_rows.
    "q_masked_mean" -> ((
      (s: SparkSession, dir: String) => {
        val masked = Scalars.maskUnless(col("value"), col("event_type") === "purchase")
        events(s, dir)
          .groupBy(col("user_id").as("conv_id"))
          .agg(
            round(avg(masked), 6).as("purchase_mean"),
            count(masked).as("n_purchases"),
            count(lit(1)).as("n_rows"))
      },
      Some(
        """SELECT user_id AS conv_id,
          |  round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase_mean,
          |  count(CASE WHEN event_type = 'purchase' THEN value END) AS n_purchases,
          |  count(*) AS n_rows
          |FROM events GROUP BY 1""".stripMargin))),

    // S2 pattern-based dataset discovery: list the storage root once,
    // select datasets by name regex (str_subset analog), open and union
    // them (fetch-data.R:45-56 + daily-measures.R:5).
    "q_catalog_discovery" -> ((
      (s: SparkSession, dir: String) => {
        val found = graft.sources.Catalog.discoverByName(s, dir, "^(nation|region)\\.parquet$")
        require(found.nonEmpty, s"no datasets matching pattern under $dir")
        found.map { case (name, path) =>
          graft.sources.Catalog.open(s, path)
            .groupBy(lit(name).as("tbl"))
            .agg(count(lit(1)).as("n_rows"))
        }.reduce(_.unionByName(_))
      },
      Some(
        """SELECT 'nation' AS tbl, count(*) AS n_rows FROM nation
          |UNION ALL SELECT 'region' AS tbl, count(*) AS n_rows FROM region""".stripMargin))),

    // §2.9 unpivot: wide tier stats → long concept rows
    // (reference gather → (entity, bucket, concept, nval_num)).
    "q_unpivot_1d" -> ((
      (s: SparkSession, dir: String) => {
        val t1d = tierOut(Rollup.rollupRaw(events(s, dir), col("user_id"), col("ts"), col("value"), "1 day"))
        t1d.select(
          col("conv_id"),
          col("bucket_start"),
          expr("stack(3, 'n_rows', cast(n_rows as double), 'sum_v', sum_v, 'mean_v', mean_v) as (metric, val)"))
          .select(col("conv_id"), col("bucket_start"), col("metric"), col("val"))
      },
      Some(
        """WITH d AS (
          |  SELECT user_id AS conv_id, date_trunc('day', ts) AS bucket_start,
          |    count(*) AS n_rows, round(sum(value), 6) AS sum_v, round(avg(value), 6) AS mean_v
          |  FROM events GROUP BY 1, 2)
          |SELECT conv_id, bucket_start, 'n_rows' AS metric, n_rows::double AS val FROM d
          |UNION ALL
          |SELECT conv_id, bucket_start, 'sum_v' AS metric, sum_v AS val FROM d
          |UNION ALL
          |SELECT conv_id, bucket_start, 'mean_v' AS metric, mean_v AS val FROM d""".stripMargin)))
  )

  // ------------------------- training-data pipeline queries (documents etc.)

  private val pipeline: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    // Exact-content dedup canonicalization (D1 + fingerprint).
    "q_dedup_exact" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.canonicalByContent(tbl(s, dir, "documents"), col("doc_id"), col("text")),
      Some(
        """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          |  min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin))),

    // Token / diversity / stopword text stats (quality-scoring inputs).
    "q_token_stats" -> ((
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenStats(col("text"), Seq("the", "a", "of")).as("_ts"))
          .select(
            col("doc_id"),
            col("_ts.n_tokens").as("n_tokens"),
            round(col("_ts.distinct_ratio"), 6).as("distinct_ratio"),
            round(col("_ts.stopword_ratio"), 6).as("stopword_ratio")),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    CASE WHEN length(trim(text)) = 0 THEN []::varchar[]
          |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
          |    CASE WHEN length(trim(text)) = 0 THEN []::varchar[]
          |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS ltoks
          |  FROM documents)
          |SELECT doc_id, len(toks) AS n_tokens,
          |  round(CASE WHEN len(toks) > 0 THEN len(list_distinct(toks))::double / len(toks) ELSE 0.0 END, 6) AS distinct_ratio,
          |  round(CASE WHEN len(ltoks) > 0 THEN len(list_filter(ltoks, x -> x IN ('the','a','of')))::double / len(ltoks) ELSE 0.0 END, 6) AS stopword_ratio
          |FROM t""".stripMargin))),

    // Language-ID heuristic: argmax of per-language marker-token counts.
    "q_lang_id" -> ((
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "documents").select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred")),
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
          |sc AS (
          |  SELECT doc_id,
          |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ich','ein'))) AS sde,
          |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','you','that','it'))) AS sen,
          |    len(list_filter(toks, x -> x IN ('el','la','los','es','y','que','una','por'))) AS ses,
          |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','je','que','une'))) AS sfr
          |  FROM t)
          |SELECT doc_id,
          |  CASE WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
          |       WHEN sde >= sen AND sde >= ses AND sde >= sfr THEN 'de'
          |       WHEN sen >= ses AND sen >= sfr THEN 'en'
          |       WHEN ses >= sfr THEN 'es'
          |       ELSE 'fr' END AS lang_pred
          |FROM sc""".stripMargin))),

    // Composite document quality score (C4/Gopher-style heuristics).
    "q_quality_score" -> ((
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.qualityScore(col("text"), Seq("the", "a", "of")).as("quality")),
      Some(
        """WITH t AS (
          |  SELECT doc_id, text,
          |    CASE WHEN length(trim(text)) = 0 THEN []::varchar[]
          |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
          |    CASE WHEN length(trim(text)) = 0 THEN []::varchar[]
          |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS ltoks
          |  FROM documents),
          |m AS (
          |  SELECT doc_id,
          |    least(len(toks)::double / 20.0, 1.0) AS len_score,
          |    CASE WHEN len(toks) > 0 THEN len(list_distinct(toks))::double / len(toks) ELSE 0.0 END AS diversity,
          |    1.0 - least(CASE WHEN length(text) > 0
          |      THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::double / length(text)
          |      ELSE 0.0 END * 4.0, 1.0) AS punct_penalty,
          |    least(CASE WHEN len(ltoks) > 0 THEN len(list_filter(ltoks, x -> x IN ('the','a','of')))::double / len(ltoks) ELSE 0.0 END * 5.0, 1.0) AS stop_score
          |  FROM t)
          |SELECT doc_id, round((len_score + diversity + punct_penalty + stop_score) / 4.0, 6) AS quality
          |FROM m""".stripMargin))),

    // Character-3-gram Jaccard near-dup inside (source, length-band)
    // blocks. Block size is CAPPED (1024, ~9× the sf0.1 max of 119, so the
    // cap changes nothing at oracle scales but bounds a pathological
    // block's B² pairs at 100 TB); shingling is the native one-pass
    // charShingleHashes (byte-range hashing over char-boundary offsets —
    // the composed substr-transform form allocated thousands of short
    // strings per multi-KB row before any join work and was the pipeline's
    // dominant term); verification is the codegen'd merge-walk
    // sortedJaccard over the sorted hash sets (one linear pass per pair).
    // A hash collision would need two distinct 3-grams in one union to
    // collide in 64 bits (~1e-15 here), so the string-Jaccard oracle still
    // matches exactly. For unblockable corpora the exact no-key path is
    // Dedup.prefixJaccardPairs (AllPairs/PPJoin prefix filtering).
    "q_ngram_jaccard_block" -> ((
      (s: SparkSession, dir: String) => {
        Dedup.blockedJaccardPairsHashed(
          wide(s, dir, "documents"),
          col("doc_id"),
          graft.plans.TextHashes.charShingleHashes(col("text"), 3),
          0.7,
          blockKeys = Seq("source" -> col("source"),
            "len_band" -> (col("n_chars") / 200).cast("long")),
          maxBlockSize = 1024)
          .select(col("source"), col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      },
      Some(
        """WITH g AS (
          |  SELECT doc_id, source, n_chars // 200 AS len_band,
          |    list_distinct([substr(lower(text), i, 3) for i in generate_series(1, greatest(length(text)-2, 1))]) AS ng
          |  FROM documents)
          |SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
          |  round(len(list_intersect(a.ng, b.ng))::double / len(list_distinct(list_concat(a.ng, b.ng))), 6) AS jaccard
          |FROM g a JOIN g b ON a.source = b.source AND a.len_band = b.len_band AND a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.ng, b.ng))::double / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.7""".stripMargin))),

    // Exact set-similarity self-join with NO blocking key: AllPairs/PPJoin
    // prefix filtering over word-3-gram shingles (Dedup.prefixJaccardPairs)
    // — the scale-right dedup path for unblockable corpora. Word shingles
    // (not char n-grams) keep prefix tokens rare and join groups small;
    // the 64-bit shingle hashing preserves exact Jaccard w.h.p. (see
    // q_ngram_jaccard_block note). Oracle = brute-force exact Jaccard over
    // all pairs, which the prefix filter must reproduce EXACTLY.
    "q_prefix_jaccard" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.prefixJaccardPairs(
          wide(s, dir, "documents"), col("doc_id"),
          graft.plans.TextHashes.wordShingleHashes(col("text"), 3), 0.35)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
          |g AS (
          |  SELECT doc_id,
          |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
          |           for i in generate_series(1, len(toks)-2)]) END AS ng
          |  FROM t)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  round(len(list_intersect(a.ng, b.ng))::double
          |    / len(list_distinct(list_concat(a.ng, b.ng))), 6) AS jaccard
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.ng, b.ng))::double
          |  / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.35""".stripMargin))),

    // Brute-force cosine top-10 vs the vec_id=0 query vector.
    "q_topk_cosine" -> ((
      (s: SparkSession, dir: String) => {
        val emb = tbl(s, dir, "embeddings")
        val q = emb.where(col("vec_id") === 0).select(col("embedding")).head()
          .getSeq[Float](0)
        Similarity.bruteForceTopK(emb.where(col("vec_id") =!= 0), col("vec_id"), col("embedding"), q, 10)
          .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      },
      Some(
        """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          |flat AS (
          |  SELECT e.vec_id, unnest(e.embedding)::double AS x, unnest(q.qe)::double AS y
          |  FROM embeddings e, q WHERE e.vec_id <> 0)
          |SELECT vec_id, round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) AS sim
          |FROM flat GROUP BY 1 ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin))),

    // MinHash+LSH near-dup pairs (word-3-gram shingles) — LSH is
    // probabilistic (recall <1), so no SQL oracle; recall is covered in
    // DedupSpec against planted dups.
    "q_minhash_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.minhashLshPairs(wide(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.35),
      None)),

    // SimHash near-dup pairs (rows-only check; semantics in DedupSpec).
    "q_simhash_pairs" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.simhashPairs(wide(s, dir, "documents"), col("doc_id"), col("text"), maxHamming = 16),
      None)),

    // LSH-bucketed ANN top-5 per vector (rows-only; recall in DedupSpec).
    "q_ann_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.lshTopK(wide(s, dir, "embeddings"), col("vec_id"), col("embedding"), k = 5),
      None)),

    // IVF coarse-quantizer ANN top-5 — the scale path whose candidate
    // volume is bounded by list sizes (n·nProbe/nLists), not bucket luck
    // (rows-only; recall + candidate bound in DedupSpec).
    "q_ann_ivf" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.ivfTopK(wide(s, dir, "embeddings"), col("vec_id"), col("embedding"), k = 5),
      None)),

    // Embedding-cosine near-dup PAIRS (the dedup family's similarity
    // instantiation): full-probe IVF candidates ≡ all pairs, verified by
    // the deterministic quantized cosine, threshold 0.3 (~990 pairs at
    // sf0.01 on these weakly-clustered vectors; max pairwise cosine 0.51).
    // The emitted cos is bit-identical on both sides (exact int64
    // dot/norms + one fixed FP sequence — see QuantCosine).
    "q_embed_dup_pairs" -> ((
      (s: SparkSession, dir: String) => {
        val qv = wide(s, dir, "embeddings").select(col("vec_id"),
          graft.plans.QuantCosine.quantizeEmb(col("embedding")).as("qemb"))
        Similarity.cosineDupPairs(qv, col("vec_id"), col("qemb"), threshold = 0.3,
          nLists = 32, nProbe = 32, sim = graft.plans.QuantCosine.quantCosine)
      },
      Some(
        s"""WITH $quantEmbDuck,
           |p AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot,
           |    a.nrm AS na, b.nrm AS nb
           |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
           |r AS (
           |  SELECT id_a, id_b,
           |    CASE WHEN na > 0 AND nb > 0
           |      THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
           |      ELSE 0.0 END AS cos
           |  FROM p)
           |SELECT id_a, id_b, cos FROM r WHERE cos >= 0.3""".stripMargin))),

    // Subword (BPE-ish) counting + punctuation-ratio quality signals over
    // documents — the remaining TextFunctions pair without a driver row.
    // subwordCount splits at every boundary adjacent to ASCII
    // whitespace/punctuation and keeps pieces whose trim (ASCII spaces
    // only!) is non-empty, which decomposes exactly into: maximal
    // word-char runs + individual punctuation chars + individual
    // NON-SPACE whitespace chars (a "\t" piece survives trim) — the
    // oracle counts the three classes directly since RE2 has no
    // lookarounds to replay the split.
    "q_subword_punct" -> ((
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "documents").select(
          col("doc_id"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"),
          TextFunctions.punctRatio(col("text")).as("punct_ratio")),
      Some(
        """SELECT doc_id,
          |  len(list_filter(regexp_split_to_array(text, '[[:space:][:punct:]]+'), x -> x <> ''))
          |    + (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
          |    + (length(text) - length(regexp_replace(text, '[\t\n\v\f\r]', '', 'g'))) AS n_subwords,
          |  CASE WHEN length(text) > 0
          |    THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
          |      / length(text) ELSE 0.0 END AS punct_ratio
          |FROM documents""".stripMargin))),

    // Driver-checkable ANN correctness: the ENTIRE IVF machinery
    // (hash-seeded Lloyd centroids → IvfProbes assignment → one-list-per-
    // vector index → probed-list candidate join → per-query ranking) run
    // at FULL probe width (nProbe = nLists), where its output is by
    // construction the exact brute-force top-5 — which DuckDB CAN
    // independently reproduce. If assignment, probing, or the candidate
    // join ever dropped or duplicated a vector, this row's hash breaks.
    // Ranking is made cross-engine-deterministic by quantizing embeddings
    // to integers (round(x·2^20), exact at float precision; Spark and
    // DuckDB both round half-away-from-zero so even representable .5 ties
    // agree) and ranking on QuantCosine — exact int64 dot/norms, one fixed
    // FP division/sqrt sequence mirrored in the oracle. PARTIAL-probe
    // recall (the actual approximation quality, 0.94@5 at 20/32) stays
    // spec-pinned: it depends on the engine's own centroids, which no
    // external SQL oracle can re-derive.
    "q_ann_ivf_recall" -> ((
      (s: SparkSession, dir: String) => {
        val qv = wide(s, dir, "embeddings").select(col("vec_id"),
          graft.plans.QuantCosine.quantizeEmb(col("embedding")).as("qemb"))
        Similarity.ivfTopK(qv, col("vec_id"), col("qemb"), k = 5, nLists = 32, nProbe = 32,
          sim = graft.plans.QuantCosine.quantCosine)
          .select(col("vec_id"), col("rank"), col("neighbour_id"))
      },
      Some(
        s"""WITH $quantEmbDuck,
           |p AS (
          |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbour_id,
          |    CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot,
          |    a.nrm AS na, b.nrm AS nb
          |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
          |r AS (
          |  SELECT vec_id, neighbour_id,
          |    CASE WHEN na > 0 AND nb > 0
          |      THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
          |      ELSE 0.0 END AS sim
          |  FROM p),
          |t AS (
          |  SELECT vec_id, neighbour_id,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbour_id) AS rank
          |  FROM r)
          |SELECT vec_id, rank, neighbour_id FROM t WHERE rank <= 5""".stripMargin))))

  val catalog: Map[String, ((SparkSession, String) => DataFrame, Option[String])] =
    core ++ pipeline

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, (fn, _)) => k -> fn }

  def oracleSql: Map[String, String] =
    catalog.collect { case (k, (_, Some(sql))) => k -> sql }
}
