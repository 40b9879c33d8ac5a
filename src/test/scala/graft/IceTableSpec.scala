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
    assert(t.metrics._1 == turnsDf.count())
    assert(t.scan(spark).count() == turnsDf.count())
    // older snapshot still readable (time travel by id)
    assert(t.liveFiles(1).map(_.rows).sum == half1.count())
  }

  test("keyed append is idempotent: replaying an epoch is a no-op") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id1 = t.append(half1, "ts", key = Some("ck#epoch-0"))
    // at-least-once replay of the same micro-batch: must not duplicate rows
    val replay = t.append(half1, "ts", key = Some("ck#epoch-0"))
    assert(replay == id1, "replayed epoch must return the original snapshot id")
    assert(t.currentSnapshotId == id1)
    assert(t.scan(spark).count() == half1.count())
    // a NEW epoch still appends
    val id2 = t.append(half2, "ts", key = Some("ck#epoch-1"))
    assert(id2 > id1)
    assert(t.scan(spark).count() == turnsDf.count())
    // and the key survives in the snapshot log (lineage/audit)
    assert(t.snapshot(id2).get.key.contains("ck#epoch-1"))
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
    // every writer replaced CURRENT and keys.json concurrently: both hold a
    // complete value, and no staged file or sidecar is left beside them
    val hint = Files.readString(java.nio.file.Paths.get(s"$root/CURRENT")).trim.toLong
    assert(hint >= 1 && hint <= n, s"CURRENT: $hint")
    val idx = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(s"$root/keys.json"))
    assert(idx.get("up_to").asLong >= 1 && idx.get("up_to").asLong <= n, s"keys.json: $idx")
    assert(new java.io.File(root).list().sorted.toSeq == Seq("CURRENT", "data", "keys.json", "snapshots"))
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

  test("keyed lookup uses the keys.json index, heals when stale, survives deletion") {
    val t = IceTable(tmp("ice"))
    val ids = (0 until 5).map { e =>
      t.append(turnsDf.where($"turn_idx" % 5 === e).coalesce(1), "ts", key = Some(s"ck#epoch-$e"))
    }
    assert(t.appendIdForKey("ck#epoch-3").contains(ids(3)))
    assert(t.appendIdForKey("nope").isEmpty)
    // the index is a pure cache over the snapshot log: deleting it must not
    // change any answer (it rebuilds from the log on the next lookup)
    val idx = new java.io.File(s"${t.root}/keys.json")
    assert(idx.exists(), "keys.json index must exist after keyed appends")
    assert(idx.delete())
    assert(t.appendIdForKey("ck#epoch-1").contains(ids(1)))
    assert(idx.exists(), "lookup must rebuild the index")
    // replay through the healed index is still a no-op
    val replay = t.append(turnsDf.where($"turn_idx" % 5 === 2), "ts", key = Some("ck#epoch-2"))
    assert(replay == ids(2) && t.currentSnapshotId == ids.last)
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
    // that goes through Hadoop throw ChecksumException (and keys.json's
    // reader, were it such a reader, would swallow that and rebuild the
    // index from the log on every lookup)
    val withLen = turnsDf.withColumn("text_len", length($"text").cast("double"))
    val early = withLen.where($"ts" < "2025-01-08")
    val t = IceTable(tmp("ice-crc"))
    assert(t.append(early, "ts", key = Some("epoch-0")) == 1)
    val root = tmp("store-crc")
    TierStore.sync(spark, t, root, $"text_len")
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def rewriteWithCrc(f: java.io.File, content: String): Unit = {
      val out = local.create(new org.apache.hadoop.fs.Path(f.getPath), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      assert(new java.io.File(f.getParent, s".${f.getName}.crc").exists(), s"no .crc beside $f")
    }
    rewriteWithCrc(new java.io.File(s"${t.root}/CURRENT"), "1")
    // "probe" is in the index but not in the snapshot log: it survives only
    // while the index is read, not rebuilt from the log
    rewriteWithCrc(new java.io.File(s"${t.root}/keys.json"), """{"up_to":1,"keys":{"epoch-0":1,"probe":1}}""")
    val markers = for {
      tier <- Seq("1m", "1h", "1d")
      f <- new java.io.File(s"$root/$tier/_checkpoints").listFiles() if f.getName.startsWith("day-")
    } yield f
    assert(markers.nonEmpty)
    markers.foreach(f => rewriteWithCrc(f, Files.readString(f.toPath)))

    // the append replaces CURRENT and keys.json beside their now-stale .crc
    val late = withLen.where($"ts" >= "2025-01-06" && $"ts" < "2025-01-08")
    assert(t.append(late, "ts", key = Some("epoch-1")) == 2)
    val idx = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(s"${t.root}/keys.json"))
    assert(idx.get("up_to").asLong == 2 && idx.get("keys").has("probe"), s"keys.json was rebuilt from the log: $idx")
    // a keyed replay is a no-op
    assert(t.append(early, "ts", key = Some("epoch-0")) == 1 && t.currentSnapshotId == 2)
    // the sync rebuilds the touched days, replacing their markers beside a
    // stale .crc, and skips the rest; a re-sync then skips every day
    val (r1m, _, _) = TierStore.sync(spark, t, root, $"text_len")
    assert(r1m.exists(_.skipped) && r1m.exists(!_.skipped), s"1m: $r1m")
    val (a1m, a1h, a1d) = TierStore.sync(spark, t, root, $"text_len")
    assert((a1m ++ a1h ++ a1d).forall(_.skipped), s"re-sync rebuilt: ${(a1m ++ a1h ++ a1d).filterNot(_.skipped)}")
    // every replaced file reads through Hadoop's checksummed FS, with no
    // sidecar left beside it
    val rebuiltMarker = s"$root/1m/_checkpoints/day-${r1m.find(!_.skipped).get.dayUs}.json"
    for (f <- Seq(s"${t.root}/CURRENT", s"${t.root}/keys.json", rebuiltMarker)) {
      val p = new org.apache.hadoop.fs.Path(f)
      val in = local.open(p)
      try assert(new String(in.readAllBytes(), "UTF-8") == Files.readString(java.nio.file.Paths.get(f)), f)
      finally in.close()
      assert(!local.exists(new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.crc")), s"stale .crc beside $f")
    }
  }

  test("checkpointed rollup resumes after crash with identical output") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.withColumn("text_len", length($"text").cast("double")), "ts")

    // reference output: single uninterrupted run
    val refDir = tmp("tier-ref")
    CheckpointedRollup.run(spark, t, refDir, col("text_len"))

    // crashing run: fails after 3 units, then resumes
    val crashDir = tmp("tier-crash")
    intercept[RuntimeException] {
      CheckpointedRollup.run(spark, t, crashDir, col("text_len"), failAfter = Some(3))
    }
    val resumed = CheckpointedRollup.run(spark, t, crashDir, col("text_len"))
    assert(resumed.count(_.skipped) == 3, "exactly the 3 completed units must be skipped")

    val a = spark.read.parquet(s"$refDir/day=*").orderBy("conv_id", "bucket_start").collect()
    val b = spark.read.parquet(s"$crashDir/day=*").orderBy("conv_id", "bucket_start").collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("parallel day submission (2 concurrent jobs) matches the serial build") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.withColumn("text_len", length($"text").cast("double")), "ts")
    val serialDir = tmp("tier-serial")
    val parDir = tmp("tier-par")
    CheckpointedRollup.run(spark, t, serialDir, col("text_len"))
    val res = CheckpointedRollup.run(spark, t, parDir, col("text_len"), parallelism = 2)
    assert(res.forall(!_.skipped))
    val a = spark.read.parquet(s"$serialDir/day=*").orderBy("conv_id", "bucket_start").collect()
    val b = spark.read.parquet(s"$parDir/day=*").orderBy("conv_id", "bucket_start").collect()
    assert(a.sameElements(b) && a.nonEmpty)
    // resume over the parallel build still skips everything
    assert(CheckpointedRollup.run(spark, t, parDir, col("text_len"), parallelism = 2).forall(_.skipped))
  }

  test("incremental invalidation: appending data recomputes ONLY the touched days") {
    val t = IceTable(tmp("ice"))
    val withLen = turnsDf.withColumn("text_len", length($"text").cast("double"))
    t.append(withLen, "ts")
    val outDir = tmp("tier")
    CheckpointedRollup.run(spark, t, outDir, col("text_len"))
    val again = CheckpointedRollup.run(spark, t, outDir, col("text_len"))
    assert(again.forall(_.skipped), "unchanged source → all units skipped")

    // append rows confined to a narrow late date range → only those days'
    // source-file fingerprints change
    val late = withLen.where($"ts" >= "2025-01-28")
    assert(late.count() > 0)
    t.append(late, "ts")
    val after = CheckpointedRollup.run(spark, t, outDir, col("text_len"))
    val redone = after.filter(!_.skipped).map(_.dayUs).toSet
    val skipped = after.count(_.skipped)
    assert(redone.nonEmpty && skipped > 0,
      s"expected a mix: redone=${redone.size}, skipped=$skipped")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-28 00:00:00").getTime * 1000
    assert(redone.forall(_ >= cutoffUs - 86400000000L),
      s"only late days may recompute, got ${redone.map(_ / 86400000000L)}")

    // and the incremental result equals a from-scratch build on the same source
    val freshDir = tmp("tier-fresh")
    CheckpointedRollup.run(spark, t, freshDir, col("text_len"))
    val a = spark.read.parquet(s"$outDir/day=*").orderBy("conv_id", "bucket_start").collect()
    val b = spark.read.parquet(s"$freshDir/day=*").orderBy("conv_id", "bucket_start").collect()
    assert(a.sameElements(b))
  }
}
