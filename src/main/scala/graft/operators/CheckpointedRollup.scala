package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._

import graft.sources.{IceTable, MetaFiles, Parquet}

/** Resumable tier build: raw IceTable → 1m-tier parquet, one event-time DAY
  * per work unit, each unit committed with a lineage-carrying checkpoint.
  *
  * Checkpoint JSON per day: {source_snapshot_id, source_files_fp,
  * bucket_lo_us, bucket_hi_us, rows, bytes} — exactly the north rule's
  * "per-partition checkpoints carrying lineage (source snapshot-id, bucket
  * range) and row/byte metrics", and the engine analog of the reference's
  * executed=/used= provenance on every egress
  * (/root/reference/scripts/daily-measures.R:242-251).
  * Every field is a function of the source and the committed day files,
  * so two builds over one source write byte-identical markers.
  *
  * Resume semantics: a day is skipped iff its source-file FINGERPRINT is
  * unchanged since it was built — the fingerprint hashes the manifest
  * entries (path, rows, bytes) of exactly the files overlapping that day —
  * and either its marker holds that fingerprint, or retention removed the
  * day and its tombstone (`_checkpoints/expired.json`, see
  * TierStore.expireDays) holds it. Appending a new snapshot therefore
  * invalidates ONLY the days the new files touch (incremental tier build:
  * O(changed days), not O(history)), and an expired day stays expired
  * until its source changes. A run that fails (a task error, a killed
  * process) keeps every day it committed: a batch's days commit one by one
  * after its write, so the re-run skips the batches that finished and
  * redoes the rest, and the store it leaves is the one an uninterrupted
  * run writes. The marker also records the source snapshot id for
  * lineage/audit. Output commit is write-to-temp + atomic rename, so a
  * kill mid-day never leaves a half-visible day.
  *
  * Scale: each day scans ONLY the raw files overlapping that day (IceTable
  * stat pruning). Up to `MaxAutoBatch` to-run days share one batch, one
  * chain of Spark jobs, so a few days' build pays one plan, one set of
  * tasks and one write; past the cap, batches are INDEPENDENT job chains
  * submitted from a bounded thread pool (`parallelism`), which at years of
  * history keeps the cluster busy while one batch's final stage drains.
  * All checkpoint and output I/O goes through the Hadoop FileSystem API
  * (markers through sources.MetaFiles), so the build works against
  * HDFS/object storage, not just the local filesystem.
  */
object CheckpointedRollup {

  private val mapper = new ObjectMapper()
  private[operators] val DayUs = 86400000000L
  /** Most days in one batch (see `runUnits`). */
  private[graft] val MaxAutoBatch = 8

  final case class DayResult(dayUs: Long, rows: Long, bytes: Long, skipped: Boolean)

  /** A source the day-unit build can read incrementally: which days exist,
    * a content fingerprint per day (changes iff the day's data changed),
    * and a day-pruned scan. IceTables and previously-built day-dir outputs
    * both implement it — which is what lets tier N+1 build incrementally
    * FROM tier N with fingerprints CHAINING through the cascade (a raw
    * append invalidates day X at 1m, whose new marker invalidates day X at
    * 1h, and so on — untouched days are skipped at every level). */
  trait DaySource {
    def pendingDays: Seq[Long]
    def dayFingerprint(dayUs: Long): Long
    /** Scan several days as ONE relation (one Spark job for a whole batch
      * of day units — see runUnits batching). */
    def scanDays(spark: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame
    /** Lineage id recorded in a day's marker: the IceTable snapshot id
      * the day was built from, or 0 when unknown. */
    def lineageId(dayUs: Long): Long
  }

  /** DaySource over an IceTable, pinned to the snapshot that is current
    * when the source is built: days, fingerprints, scans and the lineage id
    * all come from that one snapshot, so an append that lands mid-sync is
    * left whole to the next sync. Manifest stats prune the scan to files
    * overlapping the day; fingerprints hash those files' manifest entries. */
  final class IceDaySource(table: IceTable, tsCol: String = "ts") extends DaySource {
    private val snap = table.current
    private val files = snap.map(table.liveFiles).getOrElse(Nil)
    def pendingDays: Seq[Long] =
      files.flatMap(f => (f.minTsUs / DayUs) to (f.maxTsUs / DayUs)).distinct.sorted.map(_ * DayUs)
    def dayFingerprint(dayUs: Long): Long = {
      val fs = files
        .filter(f => f.maxTsUs >= dayUs && f.minTsUs < dayUs + DayUs)
        .sortBy(_.path)
      fs.foldLeft(1125899906842597L) { (h, f) =>
        ((h * 31 + f.path.hashCode) * 31 + f.rows) * 31 + f.bytes
      }
    }
    def scanDays(spark: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame = {
      // one stat-pruned scan over the batch's envelope; an OR of per-day
      // ranges keeps skipped (unchanged) days inside the envelope out
      val inDay = daysUs
        .map(d => col(tsCol) >= timestamp_micros(lit(d)) && col(tsCol) < timestamp_micros(lit(d + DayUs)))
        .reduce(_ || _)
      table.scanFiles(spark, files, daysUs.min, daysUs.max + DayUs - 1).where(inDay)
    }
    def lineageId(dayUs: Long): Long = snap.map(_.id).getOrElse(0L)
  }

  /** DaySource over a previous run's day-dir output: days come from the
    * markers, and each day's fingerprint CHAINS the upstream marker's
    * source fingerprint with its row/byte metrics — so rebuilding a day
    * upstream changes this fingerprint and invalidates it downstream. A
    * day's lineage id is the upstream marker's `source_snapshot_id`, kept
    * from the read its fingerprint makes, so the raw snapshot that built a
    * day reaches every tier above it. */
  final class DayDirSource(spark: SparkSession, dir: String) extends DaySource {
    private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val meta = new MetaFiles(fs)
    private val lineage = scala.collection.concurrent.TrieMap.empty[Long, Long]
    def pendingDays: Seq[Long] = {
      val ck = new Path(dir, "_checkpoints")
      if (!fs.exists(ck)) Nil
      else fs.listStatus(ck).iterator.map(_.getPath.getName)
        .filter(n => n.startsWith("day-") && n.endsWith(".json"))
        .map(n => n.stripPrefix("day-").stripSuffix(".json").toLong)
        .toSeq.sorted
    }
    def dayFingerprint(dayUs: Long): Long =
      meta.read(markerPath(dir, dayUs)).map { json =>
        val n = mapper.readTree(json)
        lineage.put(dayUs, n.path("source_snapshot_id").asLong(0L))
        ((n.get("source_files_fp").asLong * 31 + n.get("rows").asLong) * 31 + n.get("bytes").asLong)
      }.getOrElse(0L)
    def scanDays(sparkS: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame =
      Parquet.read(sparkS, daysUs.map(d => s"$dir/day=$d"): _*)
    def lineageId(dayUs: Long): Long = lineage.getOrElse(dayUs, 0L)
  }

  private def markerPath(outDir: String, dayUs: Long) =
    new Path(outDir, s"_checkpoints/day-$dayUs.json")

  /** A tier's tombstone file. Its name is not `day-*.json`, so the day
    * listings (`DayDirSource.pendingDays`) never see it. */
  private def expiredPath(outDir: String) = new Path(outDir, "_checkpoints/expired.json")

  /** The `source_files_fp` a day's marker holds; None without a marker. */
  private def markerFp(meta: MetaFiles, outDir: String, dayUs: Long): Option[Long] =
    meta.read(markerPath(outDir, dayUs)).map(mapper.readTree)
      .filter(_.has("source_files_fp")).map(_.get("source_files_fp").asLong)

  /** The tier's tombstones: dayUs → the source fingerprint the day's marker
    * held when retention removed the day (empty when nothing was expired). */
  private[operators] def expiredDays(meta: MetaFiles, outDir: String): Map[Long, Long] =
    meta.read(expiredPath(outDir)).map { json =>
      mapper.readTree(json).properties().asScala.map(e => e.getKey.toLong -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty)

  /** Merge a tombstone for each of `days` (its marker's current source
    * fingerprint) into the tier's tombstone file, replacing older entries
    * for the same days. A day without a marker gets none. */
  private[operators] def tombstone(meta: MetaFiles, outDir: String, days: Seq[Long]): Unit = {
    val merged = expiredDays(meta, outDir) ++ days.flatMap(d => markerFp(meta, outDir, d).map(d -> _))
    val node = mapper.createObjectNode()
    merged.toSeq.sorted.foreach { case (d, fp) => node.put(d.toString, fp) }
    meta.replace(expiredPath(outDir), mapper.writeValueAsString(node))
  }

  /** Run (or resume) a day-unit build: for each source day whose
    * fingerprint changed (or has neither a marker nor a tombstone), apply
    * `transform` to that day's rows and commit the result dir + marker
    * atomically. `parallelism` bounds how many batches are in flight
    * concurrently (independent job chains; results are per-day and
    * order-independent).
    * Returns per-day results in day order; a skipped day (marker or
    * tombstone) comes back with `skipped = true`.
    *
    * `dayBucket` names an OUTPUT column whose event-time day identifies
    * the day unit every output row belongs to (e.g. `col("bucket_start")`
    * for tier rollups — 1m/1h/1d windows never straddle a day). To-run
    * days are grouped into BATCHES that execute as ONE write each
    * (dynamic day partitioning splits the output), amortizing the per-job
    * fixed cost (plan + submit + commit) across the batch — while each day
    * still commits individually (atomic rename + marker), so visibility,
    * fingerprints and resume stay day-grained; a crash mid-batch redoes
    * only that batch's uncommitted days. Each day is one file, written by
    * one task in a fixed row order, so a day's file (and the byte count its
    * marker chains downstream) does not depend on which days shared its
    * batch.
    *
    * Batch size: to-run days are cut into batches of `MaxAutoBatch` days,
    * whatever `parallelism` is, and the pool runs batches side by side only
    * past the cap. Every batch pays its own plans, tasks and commits, and
    * the cap was measured flat across 5-9 days per batch at 140 days on 8
    * threads (OPTIMIZATION_r06.md); splitting 8 days into 4 concurrent
    * 2-day batches only multiplied that fixed cost on a CPU-bound driver
    * (24 jobs against 9 for a 3-tier build of 8 days). The batch output is
    * distributed by day before the write, so each day is written by one
    * task into one file. */
  def runUnits(
      spark: SparkSession,
      source: DaySource,
      outDir: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      dayBucket: Column,
      parallelism: Int = 1): Seq[DayResult] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(conf)
    val meta = new MetaFiles(fs)
    fs.mkdirs(new Path(outDir, "_checkpoints"))

    // commit one completed (already renamed-into-place) day: row count from
    // the COMMITTED files' parquet footers — metadata-only (no data
    // re-read), and — unlike an Observation on the write action — exact
    // under task retries/speculation, where each successful attempt's
    // partial scan would inflate observed metrics. The marker rows value
    // chains into dayFingerprint, so it must be durable-exact.
    def commitDay(dayUs: Long, fp: Long): DayResult = {
      val dayDir = new Path(outDir, s"day=$dayUs")
      val status = fs.listStatus(dayDir)
      val rows = status.iterator
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { f =>
          // read options on the session's loaded conf, one per reader (its
          // close releases them): the one-argument ParquetFileReader.open
          // builds default options, whose fresh Hadoop Configuration
          // re-parses its XML resources on every call
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
            HadoopReadOptions.builder(conf).build())
          try r.getRecordCount finally r.close()
        }.sum
      // day dirs are flat, so the one listing serves both the footer walk
      // and the byte total (getContentSummary re-walked the tree per day)
      val bytes = status.iterator.map(_.getLen).sum
      val node = mapper.createObjectNode()
      node.put("source_snapshot_id", source.lineageId(dayUs))
      node.put("source_files_fp", fp)
      node.put("bucket_lo_us", dayUs)
      node.put("bucket_hi_us", dayUs + DayUs - 1)
      node.put("rows", rows)
      node.put("bytes", bytes)
      meta.replace(markerPath(outDir, dayUs), mapper.writeValueAsString(node))
      DayResult(dayUs, rows, bytes, skipped = false)
    }

    // every job of a batch carries the description store/<tier>/batch=<first
    // day>, so the Spark UI and any listener can attribute it; the thread's
    // previous description comes back afterwards
    val tier = new Path(outDir).getName
    def runBatch(batch: Seq[(Long, Long)]): Seq[DayResult] = { // (dayUs, fp)
      val sc = spark.sparkContext
      val callerDescription = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"store/$tier/batch=${batch.head._1}")
      try writeBatch(batch) finally sc.setJobDescription(callerDescription)
    }

    def writeBatch(batch: Seq[(Long, Long)]): Seq[DayResult] = {
      val out = transform(source.scanDays(spark, batch.map(_._1)))
      // case-INSENSITIVE reservation check: Spark resolves columns
      // case-insensitively by default, so a transform column 'Day'
      // would otherwise be silently replaced by the partition value
      require(!out.columns.exists(_.equalsIgnoreCase("day")),
        "runUnits batching reserves the output column name 'day'")
      // floor-div day of the bucket column (exact in double: |µs| < 2^53);
      // the value doubles as the committed day-dir suffix
      val us = unix_micros(dayBucket.cast("timestamp"))
      // one task writes all of a day's rows, in one fixed order, so each
      // day is one file whose bytes do not depend on which days share its
      // batch or how AQE sizes the tasks: the byte count chains into the
      // downstream fingerprints (DayDirSource)
      val withDay = out.withColumn("day",
        floor(us / lit(DayUs.toDouble)).cast("long") * lit(DayUs))
        .repartition(col("day"))
        .sortWithinPartitions((col("day") +: out.schema.fields.toSeq
          .filter(f => RowOrdering.isOrderable(f.dataType)).map(f => col(f.name))): _*)
      val tmpDir = new Path(outDir, s".batch-${batch.head._1}.tmp")
      withDay.write.mode("overwrite").partitionBy("day").parquet(tmpDir.toString)
      // a transform emitting rows OUTSIDE the batch's days would vanish
      // with the tmp dir below — fail fast BEFORE any day commits, so a
      // contract violation never leaves valid markers over missing data.
      // A null bucket lands in Hive's default partition, a non-numeric dir
      val dayDirs = fs.listStatus(tmpDir).map(_.getPath.getName)
        .filter(_.startsWith("day=")).map(_.stripPrefix("day="))
      val nonNumeric = dayDirs.filter(_.toLongOption.isEmpty)
      require(nonNumeric.isEmpty,
        s"runUnits batching: transform emitted rows with a null day bucket (day=${nonNumeric.mkString(",")})")
      val written = dayDirs.map(_.toLong).toSet
      val stray = written -- batch.map(_._1).toSet
      require(stray.isEmpty,
        s"runUnits batching: transform emitted rows outside the batch's days: ${stray.mkString(",")}")
      val results = batch.map { case (dayUs, fp) =>
        val dayDir = new Path(outDir, s"day=$dayUs")
        val src = new Path(tmpDir, s"day=$dayUs")
        // a pending day can hold zero output rows (a source file span
        // covering a row-less day): commit a SCHEMA-BEARING empty parquet
        // file, written on the driver with no Spark job — a bare mkdirs
        // would make any later single-day scan of this day fail schema
        // inference
        if (!written.contains(dayUs)) Parquet.writeEmpty(spark, src.toString, out.schema)
        if (fs.exists(dayDir)) fs.delete(dayDir, true)
        if (!fs.rename(src, dayDir))
          throw new IllegalStateException(s"checkpoint commit: rename $src -> $dayDir failed")
        commitDay(dayUs, fp)
      }
      fs.delete(tmpDir, true)
      results
    }

    val days = source.pendingDays
    val fps = days.map(d => d -> source.dayFingerprint(d))
    val tombs = expiredDays(meta, outDir)
    val (doneDays, runDays) = fps.partition { case (d, fp) =>
      tombs.get(d).contains(fp) || markerFp(meta, outDir, d).contains(fp)
    }
    val skippedResults = doneDays.map { case (d, _) => DayResult(d, 0L, 0L, skipped = true) }
    val batches = runDays.grouped(MaxAutoBatch).toSeq

    val ran: Seq[DayResult] =
      if (parallelism <= 1) batches.flatMap(runBatch)
      else {
        // every batch is lifted into a Try and ALL futures are awaited, so
        // a failed batch never abandons its in-flight siblings: their
        // results (and any further exceptions, attached as suppressed)
        // survive, and the thrown error reports the full failure set — the
        // completed days' markers make the re-run resume exactly where
        // this one died
        val pool = Executors.newFixedThreadPool(parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try {
          val tries = Await.result(
            Future.traverse(batches)(b => Future(scala.util.Try(runBatch(b)))), Duration.Inf)
          val failures = batches.zip(tries).collect { case (b, scala.util.Failure(e)) => (b.head._1, e) }
          if (failures.nonEmpty) {
            val (d0, e0) = failures.head
            val ex = new RuntimeException(
              s"${failures.size}/${batches.size} batch units failed; first: day=$d0", e0)
            failures.drop(1).foreach { case (_, e) => ex.addSuppressed(e) }
            throw ex
          }
          tries.flatMap(_.get)
        } finally pool.shutdown()
      }
    (skippedResults ++ ran).sortBy(_.dayUs)
  }
}
