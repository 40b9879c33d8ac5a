package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Rollup, TierStore}
import graft.sources.TranscriptGen

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full north-star pipeline end-to-end — deterministically
    * synthesized transcripts appended to an Iceberg-shaped source table,
    * raw → 1m → 1h → 1d Gorilla-carrying day-dir tiers built tier-on-tier
    * (TierStore.sync), retention ladder applied to 1m and 1h, finalized 1d
    * tier returned (measures derived from the mergeable stat blocks).
    * Smoke check: rows > 0 (graft.Smoke). */
  def entry(spark: SparkSession): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val turns = TranscriptGen.withMeasures(TranscriptGen.turns(spark, nConvs = 50L).toDF())
    val source = graft.sources.IceTable(s"$root/raw")
    source.append(turns, "ts")
    val tiers = s"$root/tiers"
    val (_, _, r1d) = TierStore.sync(spark, source, tiers, col("text_len"),
      parallelism = spark.sparkContext.defaultParallelism)
    // 1d day units are UTC days and 1-day windows are epoch-aligned, so the
    // latest 1d day is the latest 1d bucket_start
    val nowUs = r1d.map(_.dayUs).max
    val day = 86400000000L
    TierStore.expireDays(spark, s"$tiers/1m", nowUs - 21 * day)
    TierStore.expireDays(spark, s"$tiers/1h", nowUs - 90 * day)
    Rollup.finalized(TierStore.scanTier(spark, s"$tiers/1d"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleSql
}
