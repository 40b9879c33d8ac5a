package graft

import org.apache.spark.sql.functions._
import graft.model.Turn
import graft.operators.{Rollup, Skew}
import graft.sources.TranscriptGen

/** Cascade + skew correctness over the synthetic transcripts table
  * (SURVEY.md §5.4: cascade-consistency and salted-vs-unsalted equality). */
class RollupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val measured = {
    val t = TranscriptGen.turns(spark, nConvs = 40L, meanTurns = 30, nMega = 1, megaFactor = 20)
    TranscriptGen.withMeasures(t.toDF).cache()
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(
      col("conv_id"), col("bucket_start"), col("n_rows"), col("n_vals"),
      round(col("sum"), 6).as("sum"), col("min"), col("max"),
      round(col("sum_sin"), 9).as("ss"), round(col("sum_cos"), 9).as("sc"))
      .orderBy("conv_id", "bucket_start")
      .collect()
      .toSeq

  test("generator is deterministic and monotonic in event time per conv") {
    val a = TranscriptGen.turns(spark, nConvs = 10L).collect().sortBy(t => (t.conv_id, t.turn_idx, t.ts.getTime))
    val b = TranscriptGen.turns(spark, nConvs = 10L).collect().sortBy(t => (t.conv_id, t.turn_idx, t.ts.getTime))
    assert(a.toSeq == b.toSeq)
    a.groupBy(_.conv_id).foreach { case (_, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      assert(sorted.sliding(2).forall { case Array(x, y) => !y.ts.before(x.ts); case _ => true })
    }
  }

  test("cascade consistency: raw→1d equals raw→1m→1h→1d") {
    def direct(interval: String) = Rollup.rollupRaw(measured, $"conv_id", $"ts", $"text_len", interval)
    // the co-partitioned cascade: each tier equals the direct raw rollup
    val (t1m, t1h, t1d) = Rollup.cascadeCoPartitioned(measured, $"conv_id", $"ts", $"text_len")
    assert(t1m.count() > 0)
    assert(canon(t1m) == canon(direct("1 minute")))
    assert(canon(t1h) == canon(direct("1 hour")))
    assert(canon(t1d) == canon(direct("1 day")))
    // tier-on-tier merges with a shuffle per tier reach the same 1d rows
    val chained = Rollup.rollupTier(Rollup.rollupTier(direct("1 minute"), "1 hour"), "1 day")
    assert(canon(chained) == canon(direct("1 day")))
  }

  test("salted rollup equals unsalted rollup") {
    val plain = Rollup.rollupRaw(measured, $"conv_id", $"ts", $"text_len", "1 hour")
    val salted = Skew.saltedRollupRaw(measured, $"conv_id", $"ts", $"text_len", "1 hour", salts = 7)
    assert(canon(plain) == canon(salted))
  }

  test("NaN measures are normalized to null before accumulation (P9)") {
    val withNaN = measured.withColumn(
      "m", when($"turn_idx" % 3 === 0, lit(Double.NaN)).otherwise($"text_len"))
    val t = Rollup.finalized(Rollup.rollupAllTime(withNaN, $"conv_id", $"ts", $"m"))
    val row = t.orderBy("conv_id").head()
    assert(!row.getAs[Double]("mean").isNaN)
    assert(row.getAs[Long]("n_vals") < row.getAs[Long]("n_rows"))
  }

  test("all-null group yields null mean/sum (NA-preserving A8)") {
    val df = Seq(("c1", "2025-01-01 00:00:00"), ("c1", "2025-01-01 00:30:00"))
      .toDF("conv_id", "tss")
      .withColumn("ts", to_timestamp($"tss"))
      .withColumn("v", lit(null).cast("double"))
    val t = Rollup.finalized(Rollup.rollupAllTime(df, $"conv_id", $"ts", $"v"))
    val row = t.head()
    assert(row.getAs[Long]("n_vals") == 0L)
    assert(row.isNullAt(row.fieldIndex("mean")))
  }

  test("circular mean/SD wrap-around: 23:30 and 00:30 → mean 0.0 (A9/A10)") {
    val df = Seq(("c1", "2025-01-01 23:30:00"), ("c1", "2025-01-02 00:30:00"))
      .toDF("conv_id", "tss")
      .withColumn("ts", to_timestamp($"tss"))
      .withColumn("v", lit(1.0))
    val t = Rollup.finalized(Rollup.rollupAllTime(df, $"conv_id", $"ts", $"v"))
    val row = t.head()
    val m = row.getAs[Double]("circ_mean_h")
    assert(math.abs(if (m > 12) m - 24 else m) < 1e-9, s"wrapped mean was $m")
    // arithmetic mean would have been 12.0 — circular must not be
    assert(math.abs(m - 12.0) > 1.0)
    // SD: both points 30min from mean → circadian.sd ≈ sqrt(-2 ln cos(θ))·P/2π
    val theta = 0.5 * 2 * math.Pi / 24
    val expSd = math.sqrt(-2 * math.log(math.cos(theta))) * 24 / (2 * math.Pi)
    assert(math.abs(row.getAs[Double]("circ_sd_h") - expSd) < 1e-6)
  }

  test("typed Dataset API: rollupTurns returns Dataset[TierRow] matching the DataFrame path") {
    val turns = TranscriptGen.turns(spark, nConvs = 8L, withDuplicates = false)
    val typed = Rollup.rollupTurns(turns, length($"text").cast("double"), "1 hour")
    val untyped = Rollup.rollupRaw(
      turns.toDF.withColumn("m", length($"text").cast("double")),
      $"conv_id", $"ts", $"m", "1 hour")
    val a = typed.collect().map(t => (t.conv_id, t.bucket_start, t.n_rows, t.sum)).sortBy(x => (x._1, x._2.getTime))
    val b = untyped.collect().map(r => (r.getAs[String]("conv_id"), r.getAs[java.sql.Timestamp]("bucket_start"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum"))).sortBy(x => (x._1, x._2.getTime))
    assert(a.toSeq == b.toSeq)
  }

  test("gap-fill interpolation: join form ≡ two-sort reference form, bit-exact") {
    import graft.operators.GapFill
    // tier with interior gaps, leading/trailing gaps, a null-m tier row
    // (n_rows>0 but no values — must interpolate ACROSS it), and an
    // all-null entity (every interp output null-or-LOCF-free)
    val rows = Seq(
      ("c1", "2025-01-01 00:00:00", Some(10.0)),
      ("c1", "2025-01-01 03:00:00", Some(40.0)),
      ("c1", "2025-01-01 04:00:00", None), // null-m tier row mid-series
      ("c1", "2025-01-01 07:00:00", Some(5.0)),
      ("c2", "2025-01-02 00:00:00", None), // all-null entity
      ("c2", "2025-01-02 05:00:00", None),
      ("c3", "2025-01-03 02:00:00", Some(1.25))) // single point
    val tier = rows.toDF("conv_id", "tss", "m")
      .select($"conv_id", to_timestamp($"tss").as("bucket_start"),
        $"m".cast("double").as("m"), lit(1L).as("n_rows"))
    val grid = GapFill.denseGrid(tier, "1 HOUR").cache()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"m_interp", $"is_gap")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    val join2 = canon(GapFill.interpolatedFrom(grid, "m", tier))
    val ref = canon(Oracles.interpolatedTwoSort(grid, "m"))
    assert(join2 == ref) // Row equality is bit-exact on doubles
    grid.unpersist()
  }

  test("per-turn text equality survives the engine pass (input_hint invariant)") {
    val t = TranscriptGen.turns(spark, nConvs = 15L, withDuplicates = false)
    val before = t.orderBy("conv_id", "turn_idx").select("text").as[String].collect()
    // run a full cascade (must not mutate source), then re-read raw in stable order
    Rollup.cascadeCoPartitioned(TranscriptGen.withMeasures(t.toDF), $"conv_id", $"ts", $"text_len")._3.count()
    val after = TranscriptGen.turns(spark, nConvs = 15L, withDuplicates = false)
      .orderBy("conv_id", "turn_idx").select("text").as[String].collect()
    assert(java.util.Arrays.equals(
      before.mkString("\u0000").getBytes("UTF-8"),
      after.mkString("\u0000").getBytes("UTF-8")))
  }
}
