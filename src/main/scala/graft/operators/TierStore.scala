package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IceTable, MetaFiles, Parquet}

/** The assembled north-star pipeline: raw transcripts IceTable →
  * continuous-aggregate day-dir tiers (1m → 1h → 1d), each tier row
  * carrying BOTH the mergeable stat block (query surface) and a
  * Gorilla-compressed block of the raw points in that bucket (compact
  * storage / exact replay), with per-tier retention.
  *
  * Layout per tier: root/<tier>/day=<dayUs>/part-*.parquet plus one
  * root/<tier>/_checkpoints/day-<dayUs>.json marker per committed day
  * (CheckpointedRollup). Tier rows: (conv_id, bucket_start, n_rows,
  * n_vals, sum, sum_sq, min, max, sum_sin, sum_cos, gblock binary).
  * The 1m tier's gblock holds the raw (ts µs, value) points of that minute;
  * coarser tiers' gblocks hold their child tier's (bucket_start µs, sum)
  * series — each level is exactly reconstructable one level down.
  *
  * Retention ladder (the reference's post-infection windows generalized,
  * SURVEY.md §7.0): fine tiers expire early, coarse tiers live long —
  * `expireDays` physically drops a tier's day dirs (and their markers)
  * older than its cutoff and leaves a tombstone per dropped day, so `sync`
  * does not rebuild it while its source is unchanged (the raw source keeps
  * every day); no other tier is touched.
  *
  * Scale: `sync` rebuilds only the days whose source changed, at every
  * tier (fingerprints chain raw → 1m → 1h → 1d); tier N+1 reads ONLY tier
  * N (never raw); each level is ONE fused aggregate computing the stat
  * block AND the Gorilla block together (Rollup.rollup*WithGorilla) — no
  * double scan and no stat/gorilla join per tier.
  */
object TierStore {

  /** Paths of an incremental (day-dir) tier store (see `sync`). */
  final case class TierDirs(t1m: String, t1h: String, t1d: String)

  /** INCREMENTAL cascade build: raw IceTable → day-dir 1m → 1h → 1d, each
    * level a CheckpointedRollup day-unit run whose fingerprints CHAIN —
    * appending a raw snapshot recomputes only the touched days at EVERY
    * tier (O(changed days × 3), not O(history)), each tier row carrying
    * the fused stat block + Gorilla block. Re-running after no change is a
    * metadata-only no-op at all levels. Returns per-tier day results
    * ((skipped, rebuilt) visible to callers for lineage/audit). */
  def sync(
      spark: SparkSession,
      source: IceTable,
      root: String,
      value: Column,
      parallelism: Int = 1): (Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult]) = {
    import CheckpointedRollup.{runUnits, DayDirSource, IceDaySource}
    val dirs = TierDirs(s"$root/1m", s"$root/1h", s"$root/1d")
    // dayBucket = bucket_start: 1m/1h/1d windows never straddle a day, so
    // runUnits writes up to MaxAutoBatch of a tier's to-run days in one
    // batch, one job chain (see runUnits), while each day still commits
    // and fingerprints individually; `parallelism` only runs batches side
    // by side past the cap. Every tier's scans (raw files, upstream day
    // dirs) take their schema from a parquet footer (sources.Parquet), so
    // no batch starts a schema-inference job before its write.
    val r1m = runUnits(spark, new IceDaySource(source), dirs.t1m,
      raw => Rollup.rollupRawWithGorilla(
        raw.withColumn("_v", value), col("conv_id"), col("ts"), col("_v"), "1 minute"),
      parallelism = parallelism, dayBucket = col("bucket_start"))
    val r1h = runUnits(spark, new DayDirSource(spark, dirs.t1m), dirs.t1h,
      t1m => Rollup.rollupTierWithGorilla(t1m, "1 hour"),
      parallelism = parallelism, dayBucket = col("bucket_start"))
    val r1d = runUnits(spark, new DayDirSource(spark, dirs.t1h), dirs.t1d,
      t1h => Rollup.rollupTierWithGorilla(t1h, "1 day"),
      parallelism = parallelism, dayBucket = col("bucket_start"))
    (r1m, r1h, r1d)
  }

  /** Scan one tier of an incremental store. */
  def scanTier(spark: SparkSession, tierDir: String): DataFrame =
    Parquet.read(spark, s"$tierDir/day=*")

  /** Retention for an incremental store tier: physically drop day dirs (and
    * their markers) entirely older than the cutoff, leaving a tombstone for
    * each in `_checkpoints/expired.json`: the day and the source fingerprint
    * its marker held. `sync` skips a tombstoned day while its fingerprint
    * still matches (Delta Lake's `remove` action, per tier day). A late row
    * changes the day's fingerprint, so the day is rebuilt at this tier and
    * every tier above it, and the next expiry drops it again and overwrites
    * its entry; data files are never deleted, so a fingerprint never returns
    * to an old value and a stale entry is harmless. Deleting the file (say,
    * after widening a retention window) lets the next `sync` rebuild every
    * removed day whose source is still there.
    *
    * Step order: the tombstone, then the dir, then the marker. A crash at
    * any point leaves the day skipped by `sync` (marker or tombstone) and
    * still listed by its marker, so the next `expireDays` finishes it. The
    * tombstone file is read, merged and replaced, so run one retention
    * writer per tier. Returns dropped days. */
  def expireDays(spark: SparkSession, tierDir: String, cutoffUs: Long): Seq[Long] = {
    val fs = new Path(tierDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aged = new CheckpointedRollup.DayDirSource(spark, tierDir).pendingDays
      .filter(_ + CheckpointedRollup.DayUs <= cutoffUs)
    if (aged.nonEmpty) CheckpointedRollup.tombstone(new MetaFiles(fs), tierDir, aged)
    aged.foreach { dayUs =>
      fs.delete(new Path(tierDir, s"day=$dayUs"), true)
      fs.delete(new Path(tierDir, s"_checkpoints/day-$dayUs.json"), false)
    }
    aged
  }
}
