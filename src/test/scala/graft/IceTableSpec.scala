package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{CheckpointedRollup, Rollup, TierStore}
import graft.sources.{IceTable, TranscriptGen}

/** Snapshot lineage, stat pruning, commit races, and crash-resume
  * (SURVEY.md §5.6). */
class IceTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val turnsDf =
    TranscriptGen.turns(spark, nConvs = 20L, withDuplicates = false).toDF.cache()

  test("append creates snapshots with lineage and accurate row metrics") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id1 = t.append(half1, "ts")
    val id2 = t.append(half2, "ts")
    assert(id1 == 1 && id2 == 2)
    assert(t.current.get.parentId == 1 && t.current.get.op == "append")
    assert(t.currentLiveFiles.map(_.rows).sum == turnsDf.count())
    assert(t.scan(spark).count() == turnsDf.count())
    // older snapshot still readable (time travel by id)
    assert(t.liveFiles(1).map(_.rows).sum == half1.count())
  }

  test("orphan data dir from a crashed commit never wedges later appends") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.where($"turn_idx" % 2 === 0), "ts")
    val snaps = java.nio.file.Paths.get(s"${t.root}/snapshots")
    // simulate a crash AFTER the data rename but BEFORE the snapshot claim:
    // an unreferenced UUID data dir exists, no JSON points at it
    val orphan = new java.io.File(s"${t.root}/data/d-dead-beef")
    assert(orphan.mkdirs())
    // a crash before the link: a complete staged snapshot JSON for id 2
    // that was never linked to v00002.json
    Files.copy(snaps.resolve("v00001.json"), snaps.resolve(".v00002.json.tmp-crashed"))
    assert(t.currentSnapshotId == 1)
    val id = t.append(turnsDf.where($"turn_idx" % 2 === 1), "ts")
    assert(id == 2, s"data dirs carry no ids — next claim is simply parent+1, got $id")
    // the orphan is invisible to scans
    assert(t.scan(spark).count() == turnsDf.count())
    // a crash between the link and the temp delete: the staged file is
    // still there beside the v00002.json it was linked to
    Files.createLink(snaps.resolve(".v00002.json.tmp-linked"), snaps.resolve("v00002.json"))
    assert(t.currentSnapshotId == 2)
    val id3 = t.append(turnsDf.limit(5), "ts")
    assert(id3 == 3 && t.snapshot(id3).get.parentId == 2)
    assert(t.scan(spark).count() == turnsDf.count() + 5)
  }

  test("a claimed snapshot JSON above the CURRENT hint IS the table head (pointer heals)") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.where($"turn_idx" % 2 === 0), "ts")
    val id2 = t.append(turnsDf.where($"turn_idx" % 2 === 1), "ts")
    // simulate a writer that crashed between its JSON claim and the CURRENT
    // advance: wind the hint back below the committed claim
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${t.root}/CURRENT"), "1".getBytes)
    assert(t.currentSnapshotId == id2, "listing-max must out-vote a stale CURRENT hint")
    assert(t.scan(spark).count() == turnsDf.count())
    // and the next commit parents off the healed head
    val id3 = t.append(turnsDf.limit(5), "ts")
    assert(id3 == id2 + 1 && t.snapshot(id3).get.parentId == id2)
  }

  test("two interleaved writers: every append lands, chain is linear, no file set lost") {
    val root = tmp("ice")
    val writers = (0 until 4).map(_ => IceTable(root))
    val perWriter = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = writers.zipWithIndex.map { case (w, i) =>
      scala.concurrent.Future {
        (0 until perWriter).map { k =>
          w.append(turnsDf.where($"turn_idx" % 12 === (i * perWriter + k)).coalesce(1), "ts")
        }
      }
    }
    val ids = scala.concurrent.Await
      .result(scala.concurrent.Future.sequence(futs), scala.concurrent.duration.Duration(300, "s"))
      .flatten
    pool.shutdown()
    val n = writers.size * perWriter
    // every writer got a distinct id and the chain is exactly 1..n
    assert(ids.toSet == (1L to n).toSet, s"lost/duplicated claims: $ids")
    // linear lineage: each snapshot parents the previous one
    (1L to n).foreach(id => assert(writers.head.snapshot(id).get.parentId == id - 1))
    // no file set lost: the head resolves every writer's rows
    val t = writers.head
    assert(t.currentSnapshotId == n)
    assert(t.scan(spark).count() == turnsDf.where($"turn_idx" % 12 < n).count())
    // every writer replaced CURRENT concurrently: it holds a complete
    // value, and no staged file or sidecar is left beside it
    val hint = Files.readString(java.nio.file.Paths.get(s"$root/CURRENT")).trim.toLong
    assert(hint >= 1 && hint <= n, s"CURRENT: $hint")
    assert(new java.io.File(root).list().sorted.toSeq == Seq("CURRENT", "data", "snapshots"))
  }

  test("scanAt time-travels to any committed snapshot (expiry keeps files readable)") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id1 = t.append(half1, "ts")
    val id2 = t.append(half2, "ts")
    assert(t.scanAt(spark, id1).count() == half1.count())
    assert(t.scanAt(spark, id2).count() == turnsDf.count())
    intercept[IllegalArgumentException](t.scanAt(spark, 999L))
  }

  test("scan prunes files by manifest min/max stats") {
    val t = IceTable(tmp("ice"))
    // two appends with disjoint time ranges → disjoint file stats
    val early = turnsDf.where($"ts" < "2025-01-15")
    val late = turnsDf.where($"ts" >= "2025-01-15")
    t.append(early, "ts")
    t.append(late, "ts")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-15 00:00:00").getTime * 1000
    val pruned = t.scan(spark, loUs = cutoffUs)
    // row-correct
    assert(pruned.where($"ts" >= "2025-01-15").count() == late.count())
    // file-correct: pruned scan must read strictly fewer files than full scan
    assert(pruned.inputFiles.length < t.scan(spark).inputFiles.length)
  }

  test("a scan pruned to no file keeps the table's schema") {
    val t = IceTable(tmp("ice"))
    val id1 = t.append(turnsDf, "ts")
    val pastUs = t.liveFiles(id1).map(_.maxTsUs).max + 1
    val full = t.scan(spark)
    for (empty <- Seq(t.scan(spark, loUs = pastUs), t.scanAt(spark, id1, loUs = pastUs))) {
      assert(empty.schema == full.schema)
      assert(empty.count() == 0)
      assert(empty.inputFiles.isEmpty)
      assert(empty.where($"ts" >= "2025-01-15").count() == 0)
    }
  }

  test("append manifests are delta: snapshot JSON entries stay O(new files) across N appends") {
    val t = IceTable(tmp("ice"))
    val days = (10 to 19).map(d => turnsDf.where($"ts" >= f"2025-01-$d%02d" && $"ts" < f"2025-01-${d + 1}%02d"))
    days.foreach(d => t.append(d.coalesce(1), "ts"))
    // every append after the first base lists ONLY its own files (1 here),
    // not the cumulative live set — N appends write O(N) total entries,
    // not the O(N²) a full-list-per-snapshot log accumulates
    val entryCounts = (1L to t.currentSnapshotId).map(id => t.snapshot(id).get.files.length)
    assert(entryCounts.max <= 2, s"append manifests must be delta-sized, got $entryCounts")
    // the resolved live set is still complete and scan-correct
    assert(t.currentLiveFiles.map(_.rows).sum == days.map(_.count()).sum)
    assert(t.scan(spark).count() == days.map(_.count()).sum)
  }

  test("cross-process claim race: exactly one of N concurrent claimants wins an id") {
    // drives tryClaimSnapshot DIRECTLY from distinct IceTable instances,
    // bypassing the in-JVM commit monitor (claimCommit's lockFor) — the
    // claim's link(2) is then the ONLY serialization, the same situation
    // as N separate processes claiming one id. POSIX rename overwrites, so
    // a claim that could overwrite would let several claimants each
    // "succeed" and silently drop all but the last snapshot JSON.
    val root = tmp("ice")
    val n = 8
    def race(): Unit = {
      val tables = (0 until n).map(_ => IceTable(root))
      tables.head.append(turnsDf.limit(5).coalesce(1), "ts") // v1 exists
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val wins =
        try {
          val futures = tables.zipWithIndex.map { case (t, i) =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean = {
                val snap = t.Snapshot(id = 2L, parentId = 1L, op = s"claimant-$i", files = Seq.empty)
                barrier.await()
                t.tryClaimSnapshot(snap)
              }
            })
          }
          futures.map(_.get())
        } finally pool.shutdown()
      assert(wins.count(identity) == 1, s"exactly one claim of v2 may win, got $wins")
      val winner = wins.indexOf(true)
      val v2 = tables.head.snapshot(2L)
      assert(v2.exists(s => s.op == s"claimant-$winner" && s.parentId == 1L && s.files.isEmpty),
        s"the committed JSON must be the winner's, intact: $v2")
      assert(new java.io.File(s"$root/snapshots").list().sorted.toSeq == Seq("v00001.json", "v00002.json"),
        "snapshots/ holds only v*.json: no staged file and no lock file")
    }
    race()
    // a table root deleted and recreated: the claim holds no state outside
    // the directory, so the race on the new root has the same outcome
    graft.Fs.deleteTreeQuietly(root)
    race()
  }

  test("batched day units: one job per batch, per-day markers, empty days stay scannable") {
    // one source file spanning 3 days with rows ONLY on day 1 and day 3:
    // day 2 is pending (file span covers it) but holds zero rows — the
    // batch path must commit it as a SCHEMA-BEARING empty parquet dir, or
    // any later single-day scan of it fails schema inference
    val rows = Seq(
      ("c1", "2025-02-01 10:00:00", 3.0),
      ("c1", "2025-02-03 10:00:00", 7.0),
      ("c2", "2025-02-01 11:00:00", 5.0))
      .toDF("conv_id", "tss", "text_len")
      .select($"conv_id", to_timestamp($"tss").as("ts"), $"text_len")
    val t = IceTable(tmp("ice-empty"))
    t.append(rows.coalesce(1).sortWithinPartitions("ts"), "ts")
    val outDir = tmp("tier-batched")
    val (res, jobs) = jobsDuring(CheckpointedRollup.runUnits(spark, new CheckpointedRollup.IceDaySource(t), outDir,
      raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute"),
      parallelism = 1, dayBucket = col("bucket_start")))
    assert(res.length == 3, s"3 pending days expected, got $res")
    val empty = res.find(_.rows == 0L)
    assert(empty.isDefined, s"the row-less middle day must commit with rows=0: $res")
    // every job belongs to the batch's one write (one SQL execution, named
    // after the batch): committing the empty day started none
    val batchName = s"store/${new java.io.File(outDir).getName}/batch=${res.head.dayUs}"
    assert(jobs.nonEmpty && jobs.forall(j => description(j) == batchName), jobs.map(description))
    val execIds = jobs.map(j => Option(j.getProperty("spark.sql.execution.id")))
    assert(execIds.distinct.size == 1 && execIds.head.isDefined, s"SQL executions of the jobs: $execIds")
    // per-day markers exist and single-day re-scan of EVERY day (incl. the
    // empty one) succeeds with the tier schema, the one Spark infers
    val src = new CheckpointedRollup.DayDirSource(spark, outDir)
    assert(src.pendingDays.length == 3)
    val schemas = src.pendingDays.map { d =>
      val df = src.scanDays(spark, Seq(d))
      assert(df.columns.contains("bucket_start"), s"day $d lost its schema")
      assert(df.schema == spark.read.parquet(s"$outDir/day=$d").schema, s"day $d: schema differs from Spark's")
      df.schema
    }
    assert(schemas.distinct.size == 1, s"the empty day's schema differs: $schemas")
    assert(src.scanDays(spark, src.pendingDays).count() == 3) // 3 (conv, minute) buckets
    // rebuild is a metadata-only skip for all days, empty one included
    val again = CheckpointedRollup.runUnits(spark, new CheckpointedRollup.IceDaySource(t), outDir,
      raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute"),
      parallelism = 1, dayBucket = col("bucket_start"))
    assert(again.forall(_.skipped), s"unchanged source must skip all days: $again")
  }

  test("IceDaySource pins one snapshot: an append after it is built is neither scanned nor cited") {
    val withLen = turnsDf.withColumn("text_len", length($"text").cast("double"))
    val first = withLen.where($"ts" < "2025-01-08")
    val t = IceTable(tmp("ice-pin"))
    assert(t.append(first, "ts") == 1)
    val source = new CheckpointedRollup.IceDaySource(t)
    val days = source.pendingDays
    val fps = days.map(source.dayFingerprint)
    // the append overlaps the pinned days and adds new ones
    assert(t.append(withLen.where($"ts" >= "2025-01-06" && $"ts" < "2025-01-10"), "ts") == 2)
    assert(days.forall(source.lineageId(_) == 1))
    assert(source.pendingDays == days && days.map(source.dayFingerprint) == fps)
    val scanned = source.scanDays(spark, days).select(first.columns.map(col): _*)
    assert(scanned.count() == first.count())
    assert(scanned.exceptAll(first).isEmpty && first.exceptAll(scanned).isEmpty)
    // a source built after the append sees it
    val fresh = new CheckpointedRollup.IceDaySource(t)
    assert(fresh.pendingDays.forall(fresh.lineageId(_) == 2) && fresh.pendingDays.size > days.size)
  }

  test("batched day units: a null day bucket fails with a clear message before any day commits") {
    val rows = Seq(
      ("c1", "2025-02-01 10:00:00", 3.0),
      ("c1", "2025-02-02 10:00:00", 7.0))
      .toDF("conv_id", "tss", "text_len")
      .select($"conv_id", to_timestamp($"tss").as("ts"), $"text_len")
    val t = IceTable(tmp("ice-null-day"))
    t.append(rows, "ts")
    val outDir = tmp("tier-null-day")
    val e = intercept[IllegalArgumentException] {
      CheckpointedRollup.runUnits(spark, new CheckpointedRollup.IceDaySource(t), outDir,
        raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute")
          .withColumn("bucket_start",
            when(col("max") > 5.0, lit(null)).otherwise(col("bucket_start"))),
        parallelism = 1, dayBucket = col("bucket_start"))
    }
    assert(e.getMessage.contains("null day bucket"), e.getMessage)
    val markers = new java.io.File(s"$outDir/_checkpoints").listFiles().filter(_.getName.startsWith("day-"))
    assert(markers.isEmpty, s"no day may commit: ${markers.map(_.getName).mkString(",")}")
  }

  test("metadata written through Hadoop's checksummed local FS stays usable") {
    // Hadoop's local FileSystem writes a .crc sidecar beside every file;
    // metadata is written and read with java.nio, so a replace must delete
    // the sidecar of the file it replaces. A stale one makes any reader
    // that goes through Hadoop throw ChecksumException
    val withLen = turnsDf.withColumn("text_len", length($"text").cast("double"))
    val early = withLen.where($"ts" < "2025-01-08")
    val t = IceTable(tmp("ice-crc"))
    assert(t.append(early, "ts") == 1)
    val root = tmp("store-crc")
    TierStore.sync(spark, t, root, $"text_len")
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def rewriteWithCrc(f: java.io.File, content: String): Unit = {
      val out = local.create(new org.apache.hadoop.fs.Path(f.getPath), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      assert(new java.io.File(f.getParent, s".${f.getName}.crc").exists(), s"no .crc beside $f")
    }
    rewriteWithCrc(new java.io.File(s"${t.root}/CURRENT"), "1")
    val markers = for {
      tier <- Seq("1m", "1h", "1d")
      f <- new java.io.File(s"$root/$tier/_checkpoints").listFiles() if f.getName.startsWith("day-")
    } yield f
    assert(markers.nonEmpty)
    markers.foreach(f => rewriteWithCrc(f, Files.readString(f.toPath)))

    // the append replaces CURRENT beside its now-stale .crc
    val late = withLen.where($"ts" >= "2025-01-06" && $"ts" < "2025-01-08")
    assert(t.append(late, "ts") == 2)
    // the sync rebuilds the touched days, replacing their markers beside a
    // stale .crc, and skips the rest; a re-sync then skips every day
    val (r1m, _, _) = TierStore.sync(spark, t, root, $"text_len")
    assert(r1m.exists(_.skipped) && r1m.exists(!_.skipped), s"1m: $r1m")
    val (a1m, a1h, a1d) = TierStore.sync(spark, t, root, $"text_len")
    assert((a1m ++ a1h ++ a1d).forall(_.skipped), s"re-sync rebuilt: ${(a1m ++ a1h ++ a1d).filterNot(_.skipped)}")
    // every replaced file reads through Hadoop's checksummed FS, with no
    // sidecar left beside it
    val rebuiltMarker = s"$root/1m/_checkpoints/day-${r1m.find(!_.skipped).get.dayUs}.json"
    for (f <- Seq(s"${t.root}/CURRENT", rebuiltMarker)) {
      val p = new org.apache.hadoop.fs.Path(f)
      val in = local.open(p)
      try assert(new String(in.readAllBytes(), "UTF-8") == Files.readString(java.nio.file.Paths.get(f)), f)
      finally in.close()
      assert(!local.exists(new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.crc")), s"stale .crc beside $f")
    }
  }

  /** A raw table of the turns with `text_len`, spanning more days than
    * one batch holds, so every tier syncs in several batches. */
  private def manyDays(): IceTable = {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.withColumn("text_len", length($"text").cast("double")), "ts")
    t
  }

  private def batchTmpDirs(root: String): Seq[String] =
    for (tier <- Tiers; f <- new java.io.File(s"$root/$tier").list() if f.startsWith(".batch-")) yield s"$tier/$f"

  test("checkpointed rollup resumes after crash with identical output") {
    val t = manyDays()
    // reference: one uninterrupted sync
    val refRoot = tmp("tiers-ref")
    val ref1m = TierStore.sync(spark, t, refRoot, $"text_len")._1
    val days = ref1m.map(_.dayUs)
    val batch = CheckpointedRollup.MaxAutoBatch
    assert(days.size > batch, s"the input must span more than one 1m batch: ${days.size} days")

    // a task of the second 1m batch fails: the value expression raises on
    // the rows of that batch's first day with rows
    val x = ref1m.slice(batch, 2 * batch).find(_.rows > 0).get.dayUs
    val inX = unix_micros($"ts") >= x && unix_micros($"ts") < x + 86400000000L
    val crashRoot = tmp("tiers-crash")
    val e = intercept[Exception] {
      TierStore.sync(spark, t, crashRoot, when(inX, raise_error(lit("injected"))).otherwise($"text_len"))
    }
    // raised in a task, on an executor thread
    val raised = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .find(c => Option(c.getMessage).exists(_.contains("injected")))
    assert(raised.exists(_.getStackTrace.exists(_.getClassName.startsWith("org.apache.spark.executor.Executor"))),
      raised.map(_.getStackTrace.mkString("\n")).getOrElse(e.toString))
    assert(markers(crashRoot).keySet == days.take(batch).map(d => s"1m/$d").toSet,
      "exactly the first batch's 1m days commit, and no 1h or 1d day")

    // a plain sync skips exactly the first batch's days and builds the rest
    val (r1m, r1h, r1d) = TierStore.sync(spark, t, crashRoot, $"text_len")
    assert(r1m.filter(_.skipped).map(_.dayUs) == days.take(batch))
    assert((r1h ++ r1d).forall(!_.skipped))
    assertSameStore(refRoot, crashRoot)
    assert(batchTmpDirs(crashRoot).isEmpty, batchTmpDirs(crashRoot))
  }

  test("parallel day submission (2 concurrent jobs) matches the serial build") {
    val t = manyDays()
    val serialRoot = tmp("tiers-serial")
    val parRoot = tmp("tiers-par")
    TierStore.sync(spark, t, serialRoot, $"text_len")
    val (r1m, r1h, r1d) = TierStore.sync(spark, t, parRoot, $"text_len", parallelism = 2)
    assert(r1m.size > CheckpointedRollup.MaxAutoBatch, s"one batch only: ${r1m.size} days")
    assert((r1m ++ r1h ++ r1d).forall(!_.skipped))
    assertSameStore(serialRoot, parRoot)
    // resume over the parallel build still skips everything
    val (a1m, a1h, a1d) = TierStore.sync(spark, t, parRoot, $"text_len", parallelism = 2)
    assert((a1m ++ a1h ++ a1d).forall(_.skipped))
  }

  test("incremental invalidation: appending data recomputes ONLY the touched days") {
    val t = manyDays()
    val root = tmp("tiers")
    TierStore.sync(spark, t, root, $"text_len")
    val (a1m, a1h, a1d) = TierStore.sync(spark, t, root, $"text_len")
    assert((a1m ++ a1h ++ a1d).forall(_.skipped), "unchanged source → all units skipped")

    // append rows confined to a narrow late date range → only those days'
    // source-file fingerprints change, at every tier
    val late = turnsDf.withColumn("text_len", length($"text").cast("double")).where($"ts" >= "2025-01-28")
    assert(late.count() > 0)
    t.append(late, "ts")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-28 00:00:00").getTime * 1000
    val (b1m, b1h, b1d) = TierStore.sync(spark, t, root, $"text_len")
    for ((r, tier) <- Seq((b1m, "1m"), (b1h, "1h"), (b1d, "1d"))) {
      val redone = r.filter(!_.skipped).map(_.dayUs)
      assert(redone.nonEmpty && r.exists(_.skipped), s"$tier: expected a mix, got $r")
      assert(redone.forall(_ >= cutoffUs - 86400000000L),
        s"$tier: only late days may recompute, got ${redone.map(_ / 86400000000L)}")
    }

    // and the incremental day files equal a from-scratch sync's on the same
    // source, byte for byte (the markers differ in the snapshot they cite)
    val freshRoot = tmp("tiers-fresh")
    TierStore.sync(spark, t, freshRoot, $"text_len")
    assert(dayFiles(root) == dayFiles(freshRoot))
  }
}
