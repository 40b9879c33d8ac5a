package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-aware aggregation: salting heavy entities into sub-partitions and
  * merging the associative stat blocks — the engine replacement for the
  * reference's hand-rolled cumulative-row-count batching at 100M rows/chunk
  * (/root/reference/scripts/weekly-cardio-measures.R:347-368: "Four
  * participants have above 40 Million rows each").
  *
  * Two-phase plan:
  *   phase 1: groupBy(conv_id, bucket, salt) — the salt spreads one mega
  *            conversation's rows over `salts` reducers, so no single task
  *            receives the whole hot key;
  *   phase 2: groupBy(conv_id, bucket) merge of the partial blocks — input
  *            is ≤ salts rows per (conv_id, bucket), trivially balanced.
  *
  * Because every block stat is associative (Rollup.mergeAggs), salted and
  * unsalted rollups are bit-for-bit interchangeable up to FP summation
  * order — verified by the driver oracle (q_tier_1m_salted shares its SQL
  * with q_tier_1m) and the property spec.
  *
  * At 10^12 rows the map-side partial aggregation already absorbs most of
  * the skew when bucket cardinality per conv is high; salting matters when
  * one (conv_id, bucket) pair is itself hot (mega-conversation inside one
  * day at the 1d tier). AQE skew-join handles the join side; this handles
  * the aggregation side, which AQE does not rebalance.
  *
  * Salting is explicit: the caller picks the salted rollup and its `salts`
  * (q_tier_1m_salted does). Nothing samples the data for heavy keys.
  */
object Skew {

  /** Deterministic salt in [0, salts) — keyed on a row attribute (here the
    * event time) so re-runs and resumed partitions salt identically. */
  def saltCol(ts: Column, salts: Int): Column =
    pmod(xxhash64(ts), lit(salts.toLong))

  /** Salted raw → tier rollup; result is identical (mod FP order) to
    * Rollup.rollupRaw. */
  def saltedRollupRaw(
      raw: DataFrame,
      entity: Column,
      ts: Column,
      value: Column,
      interval: String,
      salts: Int): DataFrame = {
    val partials = Rollup.bucketed(raw, entity.as("conv_id"), ts, interval,
      Seq(saltCol(ts, salts).as("_salt")), Rollup.blockAggs(value, Rollup.todHours(ts)))
    partials
      .groupBy(col("conv_id"), col("bucket_start"))
      .agg(Rollup.mergeAggs.head, Rollup.mergeAggs.tail: _*)
  }
}
