package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gorilla tier-compression surface. The aggregate itself is the native
  * Catalyst `plans.GorillaBlockAgg` (TypedImperativeAggregate — primitive
  * update path, partial buffers serialized with exactly the live slots).
  * Tier values are read back through `plans.GorillaExplode`. */
object GorillaAgg {

  /** Build a Gorilla-compressed tier: one block per (entity, bucket), plus
    * point count and block size (bytes/point is the BASELINE.md compression
    * metric). Null measures are skipped (na.rm parity — nulls are not
    * representable in the block; see Gorilla scaladoc). */
  def compressedTier(
      raw: DataFrame,
      entity: Column,
      ts: Column,
      value: Column,
      interval: String): DataFrame = {
    val block = graft.plans.GorillaBlockAgg
      .gorillaBlock(unix_micros(ts.cast("timestamp")), value.cast("double")).as("block")
    graft.operators.Rollup
      .bucketed(raw.where(value.isNotNull && !isnan(value)), entity.as("conv_id"), ts, interval, Nil, Seq(block))
      .withColumn("n_points", udf((b: Array[Byte]) => Gorilla.pointCount(b)).apply(col("block")))
      .withColumn("block_bytes", length(col("block")))
  }
}
