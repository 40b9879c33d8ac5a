package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IceTable, Parquet}

/** The assembled north-star pipeline: raw transcripts IceTable →
  * continuous-aggregate tier IceTables (1m → 1h → 1d), each tier row
  * carrying BOTH the mergeable stat block (query surface) and a
  * Gorilla-compressed block of the raw points in that bucket (compact
  * storage / exact replay), with per-tier retention expiry.
  *
  * Layout per tier table: (conv_id, bucket_start, n_rows, n_vals, sum,
  * sum_sq, min, max, sum_sin, sum_cos, gblock binary).
  * The 1m tier's gblock holds the raw (ts µs, value) points of that minute;
  * coarser tiers' gblocks hold their child tier's (bucket_start µs, sum)
  * series — each level is exactly reconstructable one level down.
  *
  * Retention ladder (the reference's post-infection windows generalized,
  * SURVEY.md §7.0): fine tiers expire early, coarse tiers live long —
  * expiry is an IceTable metadata-only snapshot (no data rewrite) keyed on
  * each tier's file stats.
  *
  * Scale: one job per tier level; tier N+1 reads ONLY tier N (never raw);
  * each level is ONE fused aggregate computing the stat block AND the
  * Gorilla block together (Rollup.rollup*WithGorilla) — no double scan and
  * no stat/gorilla join per tier. Stat pruning on the source bounds
  * incremental runs to changed days (pair with CheckpointedRollup for
  * resumability).
  */
object TierStore {

  final case class TierTables(t1m: IceTable, t1h: IceTable, t1d: IceTable)

  /** Range-partition a tier by bucket time before it hits parquet, so each
    * data file covers a BOUNDED time slice (within-file rows clustered by
    * entity). Hash-partitioned aggregate output scatters every time range
    * across every file, which makes manifest min/max stats useless: expiry
    * can never drop a file (all straddle) and time-pruned scans read
    * everything. Time-clustered layout is what turns `expireOlderThan` /
    * `vacuum` / stat-pruned scans into O(affected slice) actions — the
    * Iceberg days(bucket_start) partitioning analog. */
  private def timeClustered(tier: DataFrame, slices: Int): DataFrame =
    tier.repartitionByRange(slices, col("bucket_start"), col("conv_id"))
      .sortWithinPartitions(col("bucket_start"), col("conv_id"))

  /** Build (or rebuild) the three tier tables under `root`/{1m,1h,1d}.
    *
    * Each tier is RANGE-partitioned on (bucket_start, conv_id) before it
    * hits parquet, so every data file covers a bounded time slice (the
    * Iceberg days(bucket_start) partitioning analog). Hash-partitioned
    * aggregate output scatters every time range across every file, which
    * makes manifest min/max stats useless — expiry could never drop a file
    * (all straddle) and time-pruned scans would read everything. The slice
    * count comes from the source manifest's time span (metadata-only) with
    * the session's shuffle parallelism as a floor; it is passed explicitly
    * because AQE would coalesce an unsized range exchange into few
    * partitions at small scale. */
  def build(
      spark: SparkSession,
      source: IceTable,
      root: String,
      value: Column): TierTables = {
    val raw = source.scan(spark)
    val withVal = raw.withColumn("_v", value)
    val day = 86400000000L
    val files = source.currentLiveFiles
    val spanDays =
      if (files.isEmpty) 1
      else ((files.map(_.maxTsUs).max - files.map(_.minTsUs).min) / day + 1).toInt
    // PER-TIER slice sizing: each level carries ~60× (1m→1h) then ~24×
    // (1h→1d) fewer rows, so one global slice count over-slices the coarse
    // tiers — a multi-year table would write thousands of tiny 1d files.
    // Fine tier keeps day slices (its expiry granularity); 1h targets
    // ~weekly files, 1d ~monthly — matching each tier's TTL ladder so
    // expiry still drops whole files.
    val slices1m = math.max(spanDays, spark.sessionState.conf.numShufflePartitions)
    val slices1h = math.max(spanDays / 7, 1)
    val slices1d = math.max(spanDays / 30, 1)

    val t1m = IceTable(s"$root/1m")
    t1m.append(
      timeClustered(
        Rollup.rollupRawWithGorilla(withVal, col("conv_id"), col("ts"), col("_v"), "1 minute"),
        slices1m),
      "bucket_start")

    val t1h = IceTable(s"$root/1h")
    t1h.append(
      timeClustered(Rollup.rollupTierWithGorilla(t1m.scan(spark), "1 hour"), slices1h),
      "bucket_start")

    val t1d = IceTable(s"$root/1d")
    t1d.append(
      timeClustered(Rollup.rollupTierWithGorilla(t1h.scan(spark), "1 day"), slices1d),
      "bucket_start")

    TierTables(t1m, t1h, t1d)
  }

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
    // runUnits batches a tier's to-run days into one wave of `parallelism`
    // jobs (see runUnits) while each day still commits and fingerprints
    // individually. Every tier's scans (raw files, upstream day dirs) take
    // their schema from a parquet footer (sources.Parquet), so no batch
    // starts a schema-inference job before its write.
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
    * their markers) entirely older than the cutoff. Returns dropped days. */
  def expireDays(spark: SparkSession, tierDir: String, cutoffUs: Long): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(tierDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new CheckpointedRollup.DayDirSource(spark, tierDir)
    val aged = src.pendingDays.filter(_ + 86400000000L <= cutoffUs)
    aged.foreach { dayUs =>
      fs.delete(new org.apache.hadoop.fs.Path(tierDir, s"day=$dayUs"), true)
      fs.delete(new org.apache.hadoop.fs.Path(tierDir, s"_checkpoints/day-$dayUs.json"), false)
    }
    aged
  }

  /** Retention ladder: expire each tier's buckets older than its TTL
    * relative to `nowUs`. Returns new snapshot ids (metadata-only). */
  def applyRetention(
      tiers: TierTables,
      nowUs: Long,
      ttl1mUs: Long,
      ttl1hUs: Long,
      ttl1dUs: Long): (Long, Long, Long) = (
    tiers.t1m.expireOlderThan(nowUs - ttl1mUs),
    tiers.t1h.expireOlderThan(nowUs - ttl1hUs),
    tiers.t1d.expireOlderThan(nowUs - ttl1dUs))

  /** Physical space reclamation across the ladder: each tier keeps only
    * snapshots from its latest expire onward and vacuums everything older
    * (IceTable.vacuum). Run OUT OF BAND after applyRetention — expiry stays
    * a cheap metadata action on the write path; byte reclamation is a
    * janitor job, exactly like Iceberg's expire_snapshots maintenance.
    * Concurrent-writer safe: unreferenced files younger than `minAgeMs`
    * are spared (an in-flight append's staged data — see IceTable.vacuum);
    * pass 0 only when the ladder is known quiesced.
    * Returns per-tier (snapshots, files, bytes) freed. */
  def vacuumRetention(tiers: TierTables, minAgeMs: Long = 3600 * 1000L): Seq[(Int, Int, Long)] =
    Seq(tiers.t1m, tiers.t1h, tiers.t1d).map { t =>
      t.vacuum(keepFromId = t.currentSnapshotId, minAgeMs = minAgeMs)
    }
}
