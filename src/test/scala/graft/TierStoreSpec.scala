package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CheckpointedRollup, Rollup, TierStore}
import graft.sources.{IceTable, TranscriptGen}

/** End-to-end north-star pipeline: raw IceTable → Gorilla day-dir tiers →
  * retention ladder; plus exact replay from gorilla blocks. */
class TierStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private lazy val fixture: (IceTable, org.apache.spark.sql.DataFrame) = {
    val src = IceTable(tmp("ice-src"))
    val turns = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    src.append(turns, "ts")
    (src, turns)
  }

  test("tier store: 1d tier from the store equals a direct raw rollup; gorilla replays raw") {
    val (src, turns) = fixture
    val root = tmp("tiers")
    TierStore.sync(spark, src, root, length($"text").cast("double"))

    // correctness: store's 1d stat blocks == direct raw→1d rollup
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"), $"min", $"max")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    val direct = Rollup.rollupRaw(turns, $"conv_id", $"ts", $"text_len", "1 day")
    assert(canon(TierStore.scanTier(spark, s"$root/1d")) == canon(direct))

    // gorilla replay via the native Generator: decoding every 1m gblock
    // reproduces the raw points
    val t1m = TierStore.scanTier(spark, s"$root/1m")
    val replayed = t1m
      .select($"conv_id", graft.plans.GorillaExplode.gorillaExplode($"gblock"))
      .orderBy("conv_id", "ts_us", "v").collect()
    val raw = turns
      .select($"conv_id", unix_micros($"ts".cast("timestamp")).as("ts_us"), $"text_len".as("v"))
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(replayed.length == raw.length)
    assert(replayed.sameElements(raw))
  }

  test("incremental sync: appending raw data rebuilds ONLY the touched days at EVERY tier") {
    val src = IceTable(tmp("ice-sync"))
    val turns = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    src.append(turns.where($"ts" < "2025-01-20"), "ts")
    val root = tmp("tiers-sync")

    val (a1m, a1h, a1d) = TierStore.sync(spark, src, root, $"text_len")
    assert(a1m.forall(!_.skipped) && a1h.forall(!_.skipped) && a1d.forall(!_.skipped))

    // no change → all three tiers fully skipped (metadata-only pass)
    val (b1m, b1h, b1d) = TierStore.sync(spark, src, root, $"text_len")
    assert(b1m.forall(_.skipped) && b1h.forall(_.skipped) && b1d.forall(_.skipped))

    // append late rows → only late days rebuild, at every tier
    val late = turns.where($"ts" >= "2025-01-20")
    assert(late.count() > 0)
    src.append(late, "ts")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-20 00:00:00").getTime * 1000
    val (c1m, c1h, c1d) = TierStore.sync(spark, src, root, $"text_len")
    for ((r, tier) <- Seq((c1m, "1m"), (c1h, "1h"), (c1d, "1d"))) {
      val redone = r.filter(!_.skipped).map(_.dayUs)
      assert(redone.nonEmpty && r.exists(_.skipped), s"$tier: expected a mix, got $r")
      assert(redone.forall(_ >= cutoffUs - 86400000000L),
        s"$tier: only late days may rebuild, got ${redone.map(_ / 86400000000L)}")
    }

    // and the incremental 1d tier equals a direct raw→1d rollup
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"), $"min", $"max")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    val direct = Rollup.rollupRaw(turns, $"conv_id", $"ts", $"text_len", "1 day")
    assert(canon(TierStore.scanTier(spark, s"$root/1d")) == canon(direct))

    // gorilla blocks replay the raw points at the 1m level
    val replayed = TierStore.scanTier(spark, s"$root/1m")
      .select($"conv_id", graft.plans.GorillaExplode.gorillaExplode($"gblock"))
      .orderBy("conv_id", "ts_us", "v").collect()
    val raw = turns
      .select($"conv_id", unix_micros($"ts".cast("timestamp")).as("ts_us"), $"text_len".as("v"))
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(replayed.length == raw.length && replayed.sameElements(raw))

    // day-dir retention drops aged 1m days physically
    val dropped = TierStore.expireDays(spark, s"$root/1m", cutoffUs)
    assert(dropped.nonEmpty)
    val lo = TierStore.scanTier(spark, s"$root/1m").agg(min($"bucket_start")).head().getTimestamp(0)
    assert(lo.getTime * 1000 >= cutoffUs - 86400000000L)
  }

  test("lineage: the snapshot that appends to raw day X is the source_snapshot_id of X's 1m, 1h and 1d markers") {
    val src = IceTable(tmp("ice-lineage"))
    val turns = TranscriptGen.turns(spark, nConvs = 6L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    // day X = the last day with turns: its rows land in a second snapshot
    val x = turns.agg(max(date_trunc("day", $"ts"))).head().getTimestamp(0)
    val xUs = x.getTime * 1000
    val first = src.append(turns.where($"ts" < x), "ts")
    val root = tmp("tiers-lineage")
    TierStore.sync(spark, src, root, $"text_len")
    val second = src.append(turns.where($"ts" >= x), "ts")
    assert(second > first)
    val (r1m, r1h, r1d) = TierStore.sync(spark, src, root, $"text_len")
    for (r <- Seq(r1m, r1h, r1d)) assert(r.filter(!_.skipped).map(_.dayUs) == Seq(xUs))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def snapshotOf(tier: String, d: Long): Long =
      mapper.readTree(markerFile(root, tier, d).toFile).get("source_snapshot_id").asLong
    for (tier <- Tiers) {
      assert(snapshotOf(tier, xUs) == second, s"$tier day X")
      // the days the first snapshot built keep its id at every tier
      val older = r1m.filter(_.skipped).map(_.dayUs)
      assert(older.nonEmpty && older.forall(snapshotOf(tier, _) == first), s"$tier older days")
    }
  }

  /** Sync `src` into new roots at parallelism 4 and 1; the results and the
    * jobs of each. */
  private def syncBoth(src: IceTable, name: String): Seq[(String, Results, Seq[java.util.Properties])] =
    Seq(4, 1).map { p =>
      val root = tmp(s"tiers-$name-p$p")
      val (r, jobs) = jobsDuring(TierStore.sync(spark, src, root, $"text_len", parallelism = p))
      assert(Seq(r._1, r._2, r._3).forall(_.forall(!_.skipped)))
      (root, r, jobs)
    }

  /** `body` with AQE's partition coalescing off: a batch's final stage then
    * keeps `spark.sql.shuffle.partitions` tasks, and a day's rows reach
    * several of them unless the write distributes its rows by day. */
  private def uncoalesced[T](body: => T): T = {
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  test("one write per tier: up to MaxAutoBatch days sync as one batch at parallelism 4 and 1, one byte-identical file per day; 1m days lost from the store re-sync only 1m") {
    uncoalesced {
      val src = IceTable(tmp("ice-waves"))
      src.append(TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false).toDF
        .where($"ts" < "2025-01-09").withColumn("text_len", length($"text").cast("double")), "ts")
      val Seq((p4, r4, jobs4), (p1, _, jobs1)) = syncBoth(src, "one")
      val days = r4._1.map(_.dayUs)
      assert(days.size >= 4 && days.size <= CheckpointedRollup.MaxAutoBatch, s"${days.size} days")
      // every tier runs ONE batch: its jobs carry one name and belong to one
      // SQL execution, the batch's write
      for ((jobs, p) <- Seq((jobs4, 4), (jobs1, 1))) {
        assert(jobs.map(description).distinct.sorted == Tiers.map(t => s"store/$t/batch=${days.head}").sorted,
          s"parallelism $p: ${jobs.map(description)}")
        for (t <- Tiers) {
          val execs = jobs.filter(j => description(j).startsWith(s"store/$t/")).map(_.getProperty("spark.sql.execution.id"))
          assert(execs.distinct.size == 1 && execs.head != null, s"parallelism $p, $t: SQL executions $execs")
        }
      }
      assertSameStore(p4, p1)

      // the fingerprint chain: 1m days lost from the store (dir and marker
      // gone, and no tombstone) are rebuilt from raw with identical markers,
      // so 1h and 1d skip them
      val marks = markers(p4)
      val lost = days.take(3)
      lost.foreach { d =>
        Fs.deleteTreeQuietly(s"$p4/1m/day=$d")
        Files.delete(markerFile(p4, "1m", d))
      }
      val (a1m, a1h, a1d) = TierStore.sync(spark, src, p4, $"text_len", parallelism = 4)
      assert(a1m.filterNot(_.skipped).map(_.dayUs) == lost)
      assert(a1h.forall(_.skipped) && a1d.forall(_.skipped), s"1h/1d rebuilt: ${(a1h ++ a1d).filterNot(_.skipped)}")
      assert(markers(p4) == marks)
    }
  }

  test("more than MaxAutoBatch days split into batches of MaxAutoBatch; every job of a sync is named after its tier and batch") {
    val raw = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false).toDF
      .where($"ts" < "2025-01-16").withColumn("text_len", length($"text").cast("double"))
    val src = IceTable(tmp("ice-batches"))
    src.append(raw, "ts")
    val Seq((p4, r4, jobs4), (p1, _, jobs1)) = syncBoth(src, "many")
    val days = r4._1.map(_.dayUs)
    assert(days.size > CheckpointedRollup.MaxAutoBatch, s"${days.size} days")
    // every tier's days (1h and 1d take theirs from the markers below, so
    // they are the 1m days) cut into batches of MaxAutoBatch, each named
    // after its first day
    val names = for (t <- Tiers; b <- days.grouped(CheckpointedRollup.MaxAutoBatch)) yield s"store/$t/batch=${b.head}"
    assert(names.size >= 6)
    for ((jobs, p) <- Seq((jobs4, 4), (jobs1, 1)))
      assert(jobs.map(description).distinct.sorted == names.sorted, s"parallelism $p: ${jobs.map(description)}")
    assertSameStore(p4, p1)
    for ((tier, interval) <- Seq(("1m", "1 minute"), ("1h", "1 hour"), ("1d", "1 day"))) {
      val bad = mismatches(TierStore.scanTier(spark, s"$p4/$tier"),
        Rollup.rollupRaw(raw, $"conv_id", $"ts", $"text_len", interval), Seq("conv_id", "bucket_start"),
        Seq("n_rows", "n_vals", "min", "max"), Seq("sum", "sum_sq", "sum_sin", "sum_cos"))
      assert(bad.count() == 0, s"$tier differs from a direct rollup: ${bad.take(3).mkString("; ")}")
    }
  }

  test("retention ladder expires fine tiers earlier than coarse tiers") {
    val (src, turns) = fixture
    val root = tmp("tiers2")
    TierStore.sync(spark, src, root, length($"text").cast("double"))
    val maxUs = turns.agg(max(unix_micros($"ts".cast("timestamp")))).head().getLong(0)
    val day = 86400000000L
    def dayDirs(tier: String) = new java.io.File(s"$root/$tier").listFiles().filter(_.getName.startsWith("day="))
    def bytesOnDisk(tier: String) = dayDirs(tier).flatMap(_.listFiles()).map(_.length).sum
    val (dirs1m, bytes1m, dirs1d) = (dayDirs("1m").length, bytesOnDisk("1m"), dayDirs("1d").length)
    // keep 2 days of 1m, 10 days of 1h, everything for 1d
    for ((tier, ttl) <- Seq(("1m", 2 * day), ("1h", 10 * day), ("1d", 1000 * day)))
      TierStore.expireDays(spark, s"$root/$tier", maxUs - ttl)
    def lo(tier: String) =
      TierStore.scanTier(spark, s"$root/$tier").agg(min($"bucket_start")).head().getTimestamp(0)
    val (lo1m, lo1h, lo1d) = (lo("1m"), lo("1h"), lo("1d"))
    assert(lo1m.after(lo1h) || lo1m.equals(lo1h), s"1m ($lo1m) must not retain longer than 1h ($lo1h)")
    assert(!lo1d.after(lo1h), "1d keeps at least as much history as 1h")

    // expiry is physical: the 1m tier (its retention bit hardest) lost day
    // dirs and bytes on disk, and the 1d tier is untouched
    assert(dayDirs("1m").length < dirs1m, s"1m day dirs: $dirs1m -> ${dayDirs("1m").length}")
    assert(bytesOnDisk("1m") < bytes1m, s"1m bytes: $bytes1m -> ${bytesOnDisk("1m")}")
    assert(dayDirs("1d").length == dirs1d)
  }

  private val DayUs = 86400000000L
  private type Results = (Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult])

  /** A store synced from the raw turns before 2025-01-12 (11 days): the
    * source, the store root, the raw rows and the 1m days. */
  private def syncedStore(name: String): (IceTable, String, DataFrame, Seq[Long]) = {
    val raw = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false).toDF
      .where($"ts" < "2025-01-12").withColumn("text_len", length($"text").cast("double")).cache()
    val src = IceTable(tmp(s"ice-$name"))
    src.append(raw, "ts")
    val root = tmp(s"tiers-$name")
    val (r1m, _, _) = sync(src, root)
    assert(r1m.size >= 8, s"the fixture must span at least 8 days, got ${r1m.size}")
    (src, root, raw, r1m.map(_.dayUs))
  }

  private def sync(src: IceTable, root: String): Results =
    TierStore.sync(spark, src, root, $"text_len", parallelism = 4)

  /** The days each tier rebuilt (1m, 1h, 1d). */
  private def rebuilt(r: Results): Seq[Seq[Long]] =
    Seq(r._1, r._2, r._3).map(_.filterNot(_.skipped).map(_.dayUs))

  /** sum(n_rows) of the 1m, 1h and 1d tiers. */
  private def tierRows(root: String): Seq[Long] =
    Seq("1m", "1h", "1d").map(t => TierStore.scanTier(spark, s"$root/$t").agg(sum($"n_rows")).head().getLong(0))

  private def lo1m(root: String): Long =
    TierStore.scanTier(spark, s"$root/1m").agg(min(unix_micros($"bucket_start"))).head().getLong(0)

  test("expired 1m days stay expired: a sync after expireDays rebuilds no day at any tier") {
    val (src, root, raw, days) = syncedStore("sticks")
    val cutoff = days(3)
    val dropped = TierStore.expireDays(spark, s"$root/1m", cutoff)
    assert(dropped == days.take(3))
    val rows = tierRows(root)
    assert(rows.tail == Seq(raw.count(), raw.count()))
    val r = sync(src, root)
    assert(rebuilt(r) == Seq(Nil, Nil, Nil), s"rebuilt after expiry: ${rebuilt(r)}")
    // the tombstoned days come back as skipped results
    assert(dropped.forall(d => r._1.exists(x => x.dayUs == d && x.skipped)), s"1m: ${r._1}")
    assert(lo1m(root) >= cutoff)
    assert(tierRows(root) == rows)
  }

  test("a late row into an expired 1m day rebuilds that day at 1m, 1h and 1d, and the next expiry sticks") {
    val (src, root, raw, days) = syncedStore("late")
    val cutoff = days(3)
    assert(TierStore.expireDays(spark, s"$root/1m", cutoff) == days.take(3))
    val day = days(1)
    // the day's first turn, one second later: a new row inside that day
    val late = raw.where(unix_micros($"ts") >= day && unix_micros($"ts") < day + DayUs)
      .orderBy($"ts", $"conv_id").limit(1).withColumn("ts", $"ts" + expr("INTERVAL 1 SECOND"))
    assert(late.count() == 1)
    src.append(late, "ts")
    val r = sync(src, root)
    assert(rebuilt(r) == Seq(Seq(day), Seq(day), Seq(day)), s"rebuilt: ${rebuilt(r)}")
    // 1h and 1d equal a direct rollup of the whole source
    val all = raw.unionByName(late)
    for ((tier, interval) <- Seq(("1h", "1 hour"), ("1d", "1 day"))) {
      val bad = mismatches(TierStore.scanTier(spark, s"$root/$tier"),
        Rollup.rollupRaw(all, $"conv_id", $"ts", $"text_len", interval), Seq("conv_id", "bucket_start"),
        Seq("n_rows", "n_vals", "min", "max"), Seq("sum", "sum_sq", "sum_sin", "sum_cos"))
      assert(bad.count() == 0, s"$tier differs from a direct rollup: ${bad.take(3).mkString("; ")}")
    }
    // the next expiry removes the rebuilt day again, and it stays removed
    assert(TierStore.expireDays(spark, s"$root/1m", cutoff) == Seq(day))
    val again = sync(src, root)
    assert(rebuilt(again) == Seq(Nil, Nil, Nil), s"rebuilt after the second expiry: ${rebuilt(again)}")
    assert(lo1m(root) >= cutoff)
  }

  test("an expiry interrupted after its tombstone: sync rebuilds nothing, the next expireDays finishes it") {
    val (src, root, _, days) = syncedStore("crash")
    val cutoff = days(3)
    // keep what expireDays deletes for two days, and put it back after:
    // day 0 as if the crash came right after the tombstone was written,
    // day 1 as if it came after the day dir was deleted
    val aside = Paths.get(tmp("aside"))
    val (d0, d1) = (days(0), days(1))
    Files.move(Paths.get(s"$root/1m/day=$d0"), aside.resolve("day"))
    Seq(d0, d1).foreach(d => Files.copy(markerFile(root, "1m", d), aside.resolve(s"m$d")))
    assert(TierStore.expireDays(spark, s"$root/1m", cutoff) == days.take(3))
    Files.move(aside.resolve("day"), Paths.get(s"$root/1m/day=$d0"))
    Seq(d0, d1).foreach(d => Files.copy(aside.resolve(s"m$d"), markerFile(root, "1m", d)))
    assert(Files.exists(Paths.get(s"$root/1m/_checkpoints/expired.json")))

    val r = sync(src, root)
    assert(rebuilt(r) == Seq(Nil, Nil, Nil), s"rebuilt after an interrupted expiry: ${rebuilt(r)}")
    assert(TierStore.expireDays(spark, s"$root/1m", cutoff) == Seq(d0, d1))
    assert(Seq(d0, d1).forall(d => !Files.exists(markerFile(root, "1m", d))))
    assert(!Files.exists(Paths.get(s"$root/1m/day=$d0")))
    assert(rebuilt(sync(src, root)) == Seq(Nil, Nil, Nil))
    assert(lo1m(root) >= cutoff)
  }

  test("deleting expired.json brings back the expired 1m days: the next sync rebuilds exactly them, at 1m only") {
    val (src, root, _, days) = syncedStore("untomb")
    val dropped = TierStore.expireDays(spark, s"$root/1m", days(3))
    assert(dropped == days.take(3))
    Files.delete(Paths.get(s"$root/1m/_checkpoints/expired.json"))
    val r = sync(src, root)
    assert(rebuilt(r) == Seq(dropped, Nil, Nil), s"rebuilt: ${rebuilt(r)}")
    assert(lo1m(root) < days(1), "the 1m tier starts on its first day again")
  }
}
