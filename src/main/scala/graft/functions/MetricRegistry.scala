package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Name → aggregate registry: the engine re-expression of the reference's
  * `calcMetrics` dispatcher (/root/reference/scripts/functions/calcMetrics.R:39-97
  * — 9 registered stats, unknown names rejected at :46-55) and of its
  * `selected_vars`-driven column selection (metadata decides what is
  * computed, /root/reference/scripts/etl/fetch-data.R:13-22).
  *
  * Every metric is a pure aggregate `Column` builder, so a metric list
  * compiles into ONE `agg(...)` — one shuffle per (keys) grouping no matter
  * how many metrics are requested (the reference re-scans per stat family).
  *
  * Quantiles are exact and therefore NOT tier-mergeable — they are computed
  * raw→target-timescale directly (SURVEY.md §7.3); everything else merges
  * associatively through the tier cascade.
  */
object MetricRegistry {

  private val TwoPiOverP = 2.0 * math.Pi / Rollup24
  private def Rollup24 = graft.operators.Rollup.CircularPeriodHours

  private def circ(c: Column): (Column, Column) =
    (avg(sin(c * TwoPiOverP)), avg(cos(c * TwoPiOverP)))

  /** All registered metrics. `percent` matches the reference's
    * ratio-of-counts A7 (sum(bool)/count(non-null)·100); `na_sum` is the
    * NA-preserving sum A8; `circular_*` operate on hour-of-day values. */
  val registry: Map[String, Column => Column] = Map(
    "count" -> (c => count(c)),
    "n_records" -> (_ => count(lit(1))),
    "mean" -> (c => avg(c)),
    "sum" -> (c => sum(c)),
    "na_sum" -> (c => when(count(c) === 0, lit(null)).otherwise(sum(c))),
    "min" -> (c => min(c)),
    "max" -> (c => max(c)),
    "variance" -> (c => var_samp(c)),
    "sd" -> (c => stddev_samp(c)),
    "median" -> (c => call_function("percentile", c, lit(0.5))),
    "p5" -> (c => call_function("percentile", c, lit(0.05))),
    "p95" -> (c => call_function("percentile", c, lit(0.95))),
    "percent" -> (c => sum(c.cast("int")) * lit(100.0) / count(c)),
    "circular_mean" -> { c =>
      val (s, co) = circ(c)
      pmod(atan2(s, co) * lit(Rollup24 / (2 * math.Pi)), lit(Rollup24))
    },
    "circular_sd" -> { c =>
      val (s, co) = circ(c)
      val r = least(sqrt(s * s + co * co), lit(1.0))
      // + 0.0 normalizes IEEE −0.0 → +0.0: at R=1 (single-event groups)
      // sqrt(−2·ln 1) = sqrt(−0.0) = −0.0, whose sign bit survives DuckDB's
      // round() but not Spark's — a bitwise-hash divergence, not a math one.
      sqrt(lit(-2.0) * log(r)) * lit(Rollup24 / (2 * math.Pi)) + lit(0.0)
    })

  /** Reject unknown metric names (reference parity: calcMetrics.R:46-55). */
  def validate(names: Seq[String]): Unit = {
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty,
      s"unknown metrics: ${unknown.mkString(", ")}; registered: ${registry.keys.toSeq.sorted.mkString(", ")}")
  }

  /** Build the agg list `<col>_<metric>` for a (value, metrics) fan-out —
    * the across()/.names="{.col}_{.fn}" pattern (A13,
    * /root/reference/scripts/timeInSleepStages.R:41-51). */
  def aggs(values: Seq[(String, Column)], metrics: Seq[String]): Seq[Column] = {
    validate(metrics)
    for ((name, c) <- values; m <- metrics)
      yield registry(m)(c).as(s"${name}_$m")
  }

  /** One-shot grouped summary: one shuffle, all metrics × all values. */
  def summarize(
      df: DataFrame,
      keys: Seq[Column],
      values: Seq[(String, Column)],
      metrics: Seq[String]): DataFrame = {
    val as = aggs(values, metrics)
    df.groupBy(keys: _*).agg(as.head, as.tail: _*)
  }
}
