package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.operators.Rollup

/** Structured-Streaming construction of the 1m tier: readStream →
  * watermarked event-time window aggregate → append sink.
  *
  * The reference is batch-only (SURVEY.md §2.10) — its "incremental" mode is
  * re-running against a newer snapshot — so streaming is a stretch surface,
  * designed so the STREAMING 1m tier and the BATCH 1m tier share one schema
  * (graft.model.TierRow block columns): batch backfill and streaming
  * head can write the same store.
  *
  * Semantics: watermark bounds state (late turns beyond `lateness` are
  * dropped — the batch path instead sees them on the next snapshot); append
  * mode emits a bucket only once its watermark passes, which matches tier
  * immutability (a bucket, once written, is final until a rewrite action).
  *
  * Scale: state is per (conv_id, 1m window) — the same key the batch rollup
  * shuffles on; mega-conversation skew hits the state store exactly like the
  * batch hash-agg, so salting applies identically if needed (the partial
  * blocks merge associatively either way).
  */
object StreamTier {

  /** The streaming analog of Rollup.rollupRaw: the SAME block aggregates
    * (shared with the batch path — no drift) behind a watermark. */
  def tierAggregate(stream: DataFrame, value: Column, interval: String, lateness: String): DataFrame = {
    val aggs = Rollup.blockAggs(value, Rollup.todHours(col("ts")))
    Rollup.bucketed(stream.withWatermark("ts", lateness), col("conv_id"), col("ts"), interval, Nil, aggs)
  }

  /** The transcripts parquet stream under `inputPath`, with `text_len`,
    * aggregated to a tier by tierAggregate. */
  private def tierStream(
      spark: SparkSession,
      inputPath: String,
      value: Column,
      interval: String,
      lateness: String): DataFrame = {
    val schema = graft.sources.Parquet.read(spark, inputPath).schema
    val stream = spark.readStream.schema(schema).parquet(inputPath)
      .withColumn("text_len", length(col("text")).cast("double"))
    tierAggregate(stream, value, interval, lateness)
  }

  /** Stream the 1m tier INTO an IceTable — batch backfill and streaming
    * head share one store. Each micro-batch commits as an append snapshot
    * (lineage: one snapshot per epoch), so downstream tier builds and
    * retention actions see streaming data exactly like batch data.
    * foreachBatch is at-least-once on restart, so each append is keyed by
    * (checkpoint, epoch id) — IceTable's idempotent-append contract turns
    * replays into no-ops (no duplicate snapshots, no wedged table).
    * Returns the started query; await/stop is the caller's. */
  def intoIceTable(
      spark: SparkSession,
      inputPath: String,
      tableRoot: String,
      checkpoint: String,
      value: Column,
      interval: String = "1 minute",
      lateness: String = "10 minutes"): org.apache.spark.sql.streaming.StreamingQuery = {
    tierStream(spark, inputPath, value, interval, lateness).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          graft.sources.IceTable(tableRoot)
            .append(batch, "bucket_start", key = Some(s"$checkpoint#epoch-$epochId")): Unit
        }
      }
      .start()
  }

  /** Stream a transcripts parquet directory into a 1m tier. Returns the
    * writer; caller starts it with .start(path) or .toTable. */
  def from(
      spark: SparkSession,
      inputPath: String,
      value: Column,
      interval: String = "1 minute",
      lateness: String = "10 minutes"): DataStreamWriter[Row] = {
    tierStream(spark, inputPath, value, interval, lateness).writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
  }
}
