package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.functions.{Gorilla, GorillaAgg}
import graft.operators.{CheckpointedRollup, Rollup, TierStore}
import graft.sources.{IceTable, TranscriptGen}

/** End-to-end north-star pipeline: raw IceTable → Gorilla tier IceTables →
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
    val tiers = TierStore.build(spark, src, tmp("tiers"), length($"text").cast("double"))

    // correctness: store's 1d stat blocks == direct raw→1d rollup
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"), $"min", $"max")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    val direct = Rollup.rollupRaw(turns, $"conv_id", $"ts", $"text_len", "1 day")
    assert(canon(tiers.t1d.scan(spark)) == canon(direct))

    // gorilla replay via the native Generator: decoding every 1m gblock
    // reproduces the raw points
    val replayed = tiers.t1m.scan(spark)
      .select($"conv_id", graft.plans.GorillaExplode.gorillaExplode($"gblock"))
      .orderBy("conv_id", "ts_us", "v").collect()
    val raw = turns
      .select($"conv_id", unix_micros($"ts".cast("timestamp")).as("ts_us"), $"text_len".as("v"))
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(replayed.length == raw.length)
    assert(replayed.sameElements(raw))

    // the Generator and the UDF decode path agree
    val viaUdf = tiers.t1m.scan(spark)
      .select($"conv_id", explode(GorillaAgg.decodeUdf($"gblock")).as("p"))
      .select($"conv_id", $"p.ts_us", $"p.v")
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(viaUdf.sameElements(replayed))

    // per-tier slice sizing: the fine tier keeps ~day slices (many files,
    // expiry granularity) while coarse tiers must NOT inherit that count —
    // a month-span fixture gets weekly 1h files and ~one 1d file
    val (f1m, f1h, f1d) = (tiers.t1m.currentLiveFiles.length,
      tiers.t1h.currentLiveFiles.length, tiers.t1d.currentLiveFiles.length)
    assert(f1m >= 10, s"1m tier should keep day-grained slices, got $f1m files")
    assert(f1h <= 8, s"1h tier must not over-slice, got $f1h files")
    assert(f1d <= 3, s"1d tier must not over-slice, got $f1d files")
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

  test("sync batch sizes: parallelism 4 and 1 build equal tiers and markers; 1m expiry re-syncs only 1m") {
    val src = IceTable(tmp("ice-waves"))
    src.append(TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false).toDF
      .where($"ts" < "2025-01-16").withColumn("text_len", length($"text").cast("double")), "ts")
    val (p4, p1) = (tmp("tiers-p4"), tmp("tiers-p1"))
    val r4 = TierStore.sync(spark, src, p4, $"text_len", parallelism = 4)
    val r1 = TierStore.sync(spark, src, p1, $"text_len", parallelism = 1)
    assert(r4._1.size >= 8, s"the fixture must span at least 8 days, got ${r4._1.size}")
    assert(Seq(r4, r1).forall(r => Seq(r._1, r._2, r._3).forall(_.forall(!_.skipped))))

    def marker(root: String, tier: String, dayUs: Long) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$root/$tier/_checkpoints/day-$dayUs.json"))
    val keys = Seq("conv_id", "bucket_start")
    val exact = Seq("n_rows", "n_vals", "min", "max", "gblock")
    val approx = Seq("sum", "sum_sq", "sum_sin", "sum_cos")
    for (tier <- Seq("1m", "1h", "1d")) {
      val days = new CheckpointedRollup.DayDirSource(spark, s"$p4/$tier").pendingDays
      assert(days == new CheckpointedRollup.DayDirSource(spark, s"$p1/$tier").pendingDays, tier)
      // 1m markers also share the raw-file fingerprint (same source table)
      val fields = Seq("rows", "bucket_lo_us", "bucket_hi_us") ++ (if (tier == "1m") Seq("source_files_fp") else Nil)
      for (d <- days; f <- fields)
        assert(marker(p4, tier, d).get(f).asLong == marker(p1, tier, d).get(f).asLong, s"$tier day $d marker $f")
      // row-for-row equal; float sums within 1e-9 relative (summation order
      // follows the batch's partitioning)
      def side(root: String, p: String) = TierStore.scanTier(spark, s"$root/$tier")
        .select((keys.map(col) ++ (exact ++ approx).map(k => col(k).as(p + k))): _*)
      val j = side(p4, "a_").join(side(p1, "b_"), keys, "full_outer")
      val bad = j.where(
        exact.map(k => !col("a_" + k).eqNullSafe(col("b_" + k))).reduce(_ || _) ||
          approx.map(k => col("a_" + k).isNull || col("b_" + k).isNull ||
            abs(col("a_" + k) - col("b_" + k)) > abs(col("b_" + k)) * 1e-9 + 1e-9).reduce(_ || _))
      assert(bad.count() == 0, s"$tier differs between parallelism 4 and 1")
    }

    // the fingerprint chain: 1m days dropped by retention are rebuilt from
    // raw with identical markers, so 1h and 1d skip them
    val days1m = r4._1.map(_.dayUs)
    val dropped = TierStore.expireDays(spark, s"$p4/1m", days1m(3))
    assert(dropped == days1m.take(3))
    val (a1m, a1h, a1d) = TierStore.sync(spark, src, p4, $"text_len", parallelism = 4)
    assert(a1m.filterNot(_.skipped).map(_.dayUs) == dropped)
    assert(a1h.forall(_.skipped) && a1d.forall(_.skipped), s"1h/1d rebuilt: ${(a1h ++ a1d).filterNot(_.skipped)}")
  }

  test("retention ladder expires fine tiers earlier than coarse tiers") {
    val (src, turns) = fixture
    val tiers = TierStore.build(spark, src, tmp("tiers2"), length($"text").cast("double"))
    val maxUs = turns.agg(max(unix_micros($"ts".cast("timestamp")))).head().getLong(0)
    val day = 86400000000L
    // keep 2 days of 1m, 10 days of 1h, everything for 1d
    TierStore.applyRetention(tiers, maxUs, 2 * day, 10 * day, 1000 * day)
    val lo1m = tiers.t1m.scan(spark).agg(min($"bucket_start")).head().getTimestamp(0)
    val lo1h = tiers.t1h.scan(spark).agg(min($"bucket_start")).head().getTimestamp(0)
    val lo1d = tiers.t1d.scan(spark).agg(min($"bucket_start")).head().getTimestamp(0)
    assert(lo1m.after(lo1h) || lo1m.equals(lo1h), s"1m ($lo1m) must not retain longer than 1h ($lo1h)")
    assert(!lo1d.after(lo1h), "1d keeps at least as much history as 1h")
    assert(tiers.t1m.current.get.op == "expire")

    // out-of-band janitor: physical reclamation frees the 1m tier's aged
    // bytes (its retention bit hardest) and post-vacuum scans are unchanged
    val before1m = tiers.t1m.scan(spark).count()
    val freed = TierStore.vacuumRetention(tiers, minAgeMs = 0) // quiesced table
    assert(freed.head._3 > 0, s"1m tier must free bytes, got $freed")
    assert(tiers.t1m.scan(spark).count() == before1m)
    assert(tiers.t1d.scan(spark).count() > 0)
  }
}
