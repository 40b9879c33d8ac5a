package graft

import org.apache.spark.sql.functions._
import graft.functions.TimeBuckets
import graft.operators.{Episodes, Sliding}

/** Hand-computed reference-semantics fixtures (FIXTURES.md §2): the tricky
  * daily-measures / sleepSD behaviors transplanted onto the generic
  * operators. Citations are to /root/reference/ scripts. */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  // (conv, log, idx, stage) — one 'episode detail' sequence
  // stages: w=wake, l=light, r=rem
  private def seqDf(stages: String) =
    stages.zipWithIndex.map { case (c, i) => ("c1", "e1", i, c.toString) }
      .toDF("conv_id", "log_id", "idx", "v")
      .withColumn("ts", to_timestamp(lit("2025-01-01 00:00:00")) + expr("make_interval(0,0,0,0,0,0,idx*30)"))

  test("W1 NumAwakenings: drop only last row if wake, then count X→wake (daily-measures.R:110-125)") {
    def awak(stages: String): Long = {
      val r = Episodes.transitionsInto(seqDf(stages), Seq($"conv_id", $"log_id"), Seq($"idx"), $"v" === "w")
      if (r.isEmpty) 0L else r.head().getAs[Long]("n_transitions")
    }
    // l l w l l w w → drop last w, remaining llwllw: l→w at idx1→2 and
    // idx4→5 both count → 2 (the reference counts the transition into a
    // trailing run unless it is directly into the dropped final row)
    assert(awak("llwllww") == 2L)
    // l w: drop trailing w → single l, no transition
    assert(awak("lw") == 0L)
    // l w w: drop last w → lw → 1
    assert(awak("lww") == 1L)
    // l w l w l → two wake runs, none trailing → 2
    assert(awak("lwlwl") == 2L)
    // last row non-wake: nothing dropped; l w l → 1
    assert(awak("lwl") == 1L)
    // all wake → no transitions (group absent)
    assert(awak("www") == 0L)
  }

  test("W2 REM fragmentation numerator: rem→non-rem transitions (daily-measures.R:166-181)") {
    // r r l r w → rem runs end at idx1→l and idx3→w → 2
    val got = Episodes.transitionsOutOf(seqDf("rrlrw"), Seq($"conv_id", $"log_id"), Seq($"idx"), $"v" === "r")
    assert(got.head().getAs[Long]("n_transitions") == 2L)
  }

  test("W4 REM-onset latency: first non-wake to first rem, in seconds (daily-measures.R:127-164)") {
    // w w l l r at 30s cadence: first non-wake = idx2 (60s), first rem = idx4 (120s) → 60s
    val got = Episodes.firstMatchLatency(seqDf("wwllr"), Seq($"conv_id", $"log_id"), $"ts",
      from = $"v" =!= "w", until = $"v" === "r")
    assert(got.head().getAs[Double]("latency_secs") == 60.0)
    // no rem → null
    val none = Episodes.firstMatchLatency(seqDf("wwll"), Seq($"conv_id", $"log_id"), $"ts",
      from = $"v" =!= "w", until = $"v" === "r").head()
    assert(none.isNullAt(none.fieldIndex("latency_secs")))
  }

  test("F1 sliding 3-bucket SD + completeness: incomplete head windows dropped (sleepSD.R:66-94)") {
    // weekly buckets with one missing week: completeness must drop the
    // window that spans the gap (range semantics, not rows)
    val weeks = Seq(
      ("c1", "2025-01-06", 1.0), ("c1", "2025-01-13", 2.0), ("c1", "2025-01-20", 3.0),
      /* gap 01-27 */ ("c1", "2025-02-03", 4.0), ("c1", "2025-02-10", 5.0), ("c1", "2025-02-17", 6.0))
      .toDF("conv_id", "wk", "m").withColumn("wk", to_date($"wk"))
      .withColumn("m_us", round($"m" * lit(1e6)).cast("long")) // micro-units, as q_sliding_3d
    val got = Sliding.slidingStatsExact(weeks, $"conv_id", $"wk", 604800L, 3, Seq("m" -> $"m_us"))
      .select($"wk".cast("string"), $"m_sd", $"m_n").orderBy("wk").collect()
    // complete windows: [06,13,20] ending 01-20 and [03,10,17] ending 02-17
    assert(got.map(_.getString(0)).toSeq == Seq("2025-01-20", "2025-02-17"))
    assert(math.abs(got.head.getAs[Double]("m_sd") / 1e6 - 1.0) < 1e-12) // sd(1,2,3)=1
  }

  test("P7 retention: calendar-month arithmetic incl. end-of-month clamp (sleepSD.R:216)") {
    val df = Seq(
      ("2024-11-30 12:00:00", "2025-02-27 00:00:00"), // 3mo after Nov30 = Feb28(clamp Feb30→28) → keep? 27 Feb < 28 Feb → drop
      ("2024-11-30 12:00:00", "2025-03-01 00:00:00"))
      .toDF("anchor", "ts")
      .select(to_timestamp($"anchor").as("anchor"), to_timestamp($"ts").as("ts"))
    val kept = df.where(TimeBuckets.afterRetentionInterval($"ts", $"anchor", "3 MONTH")).collect()
    assert(kept.length == 1 && kept.head.getAs[java.sql.Timestamp]("ts").toString.startsWith("2025-03-01"))
  }

  test("A15 SRI on a toy 2-day episode grid matches the hand-computed score (functions/sri.R:4-9)") {
    import graft.operators.Sri
    // day1: asleep 00:00-08:00; day2: asleep 02:00-08:00, 30s ticks, lag=2880
    // span t0..t3840; compared ticks 2880..3840 (961): prev all 1;
    // current: 240 zeros (00:00-02:00) + 721 ones → SRI = 200·721/961 − 100
    val eps = Seq(
      ("c1", "2025-01-01 00:00:00", "2025-01-01 08:00:00", 1, 1),
      ("c1", "2025-01-02 02:00:00", "2025-01-02 08:00:00", 1, 2))
      .toDF("conv_id", "start", "end", "status", "src")
      .select($"conv_id", to_timestamp($"start").as("start"), to_timestamp($"end").as("end"), $"status", $"src")
    val got = Sri.episodeSri(eps, $"conv_id", $"start", $"end", $"status", $"src",
      tickSeconds = 30, lagTicks = 2880).head().getAs[Double]("sri")
    val expected = 200.0 * 721 / 961 - 100.0
    assert(math.abs(got - expected) < 1e-9, s"got $got expected $expected")
  }

  test("SRI keep-last overlap: overlapping episodes with different status use the later source") {
    import graft.operators.Sri
    // identical days except an overlap where src=2 (wake) overrides src=1 (sleep)
    val eps = Seq(
      ("c1", "2025-01-01 00:00:00", "2025-01-01 01:00:00", 1, 1),
      ("c1", "2025-01-01 00:30:00", "2025-01-01 01:00:00", 0, 2), // later src wins
      ("c1", "2025-01-02 00:00:00", "2025-01-02 01:00:00", 1, 3))
      .toDF("conv_id", "start", "end", "status", "src")
      .select($"conv_id", to_timestamp($"start").as("start"), to_timestamp($"end").as("end"), $"status", $"src")
    val got = Sri.episodeSri(eps, $"conv_id", $"start", $"end", $"status", $"src",
      tickSeconds = 30, lagTicks = 2880).head().getAs[Double]("sri")
    // compared ticks: day2 00:00-01:00 all 1 (121) vs day1: 60 ones then 61 zeros
    // (keep-last flipped 00:30-01:00) → agree 60 of 121
    val expected = 200.0 * 60 / 121 - 100.0
    assert(math.abs(got - expected) < 1e-9, s"got $got expected $expected")
  }

  test("episode SRI: sparse support form equals the dense-grid reference form") {
    import graft.operators.Sri
    // mixed shapes: overlaps with keep-last overrides (incl. override TO the
    // fill value), explicit fill-status episodes stretching the span, a
    // second entity with a different pattern, and one entity too short to
    // have any compared ticks (must appear in NEITHER result)
    val eps = Seq(
      ("c1", "2025-01-01 00:00:00", "2025-01-01 08:00:00", 1, 1),
      ("c1", "2025-01-01 06:00:00", "2025-01-01 08:00:00", 0, 2), // override to fill
      ("c1", "2025-01-02 02:00:00", "2025-01-02 08:00:00", 1, 3),
      ("c1", "2025-01-02 23:00:00", "2025-01-02 23:30:00", 0, 4), // fill episode stretches span
      ("c1", "2025-01-02 23:45:00", null, 1, 5), // null end: NO ticks, must not stretch the span
      ("c2", "2025-01-01 00:00:00", "2025-01-01 04:00:00", 2, 1), // multi-valued status
      ("c2", "2025-01-02 00:00:00", "2025-01-02 04:00:00", 1, 2),
      ("c2", "2025-01-02 01:00:00", "2025-01-02 03:00:00", 2, 3),
      ("c2", "2025-01-02 05:00:00", "2025-01-02 04:30:00", 1, 4), // INVERTED: descending sequence ticks
      ("c3", "2025-01-01 00:00:00", "2025-01-01 01:00:00", 1, 1)) // span < lag
      .toDF("conv_id", "start", "end", "status", "src")
      .select($"conv_id", to_timestamp($"start").as("start"), to_timestamp($"end").as("end"), $"status", $"src")
    def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getAs[Double]("sri")).toMap
    val sparse = scores(Sri.episodeSri(eps, $"conv_id", $"start", $"end", $"status", $"src",
      tickSeconds = 30, lagTicks = 2880))
    val dense = scores(Oracles.episodeSriDense(eps, $"conv_id", $"start", $"end", $"status", $"src",
      tickSeconds = 30, lagTicks = 2880))
    assert(sparse.keySet == dense.keySet && sparse.keySet == Set("c1", "c2"))
    sparse.keySet.foreach { e =>
      assert(math.abs(sparse(e) - dense(e)) < 1e-9, s"$e: sparse=${sparse(e)} dense=${dense(e)}")
    }
  }

  test("episode SRI: sparse equals dense on PRE-1970 (negative-tick) episodes") {
    import graft.operators.Sri
    // negative epochs exercise the floor-division sweep end-to-end: tick
    // indexing (tickOf), the dense grid's chunk explode, and the span
    // arithmetic all floor — truncation toward zero would shift day
    // boundaries and (in the dense form) silently drop the ticks between
    // trunc(lo/chunk)·chunk and lo
    val eps = Seq(
      ("p1", "1969-12-29 00:00:00", "1969-12-29 08:00:00", 1, 1),
      ("p1", "1969-12-30 02:00:00", "1969-12-30 06:00:00", 1, 2),
      ("p1", "1969-12-31 22:00:00", "1970-01-01 02:00:00", 1, 3), // straddles epoch 0
      ("p2", "1969-12-31 12:00:00", "1969-12-31 20:00:00", 1, 1),
      ("p2", "1970-01-01 12:00:00", "1970-01-01 16:00:00", 1, 2))
      .toDF("conv_id", "start", "end", "status", "src")
      .select($"conv_id", to_timestamp($"start").as("start"),
        to_timestamp($"end").as("end"), $"status", $"src")
    def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getAs[Double]("sri")).toMap
    val sparse = scores(Sri.episodeSri(eps, $"conv_id", $"start", $"end", $"status", $"src",
      tickSeconds = 30, lagTicks = 2880))
    val dense = scores(Oracles.episodeSriDense(eps, $"conv_id", $"start", $"end", $"status", $"src",
      tickSeconds = 30, lagTicks = 2880))
    assert(sparse.keySet == dense.keySet && sparse.keySet == Set("p1", "p2"))
    sparse.keySet.foreach { e =>
      assert(math.abs(sparse(e) - dense(e)) < 1e-9, s"$e: sparse=${sparse(e)} dense=${dense(e)}")
    }
  }

  test("F3 sliding SRI: bucketed daily scores + sliding window composition (sri.R:96-121,181-195)") {
    import graft.operators.{Sliding, Sri}
    // 4 days of turns: same 3 active hours daily except day 3 shifts by 2h
    val turns = (for {
      day <- 0 to 3
      hour <- if (day == 2) Seq(10, 11, 12) else Seq(8, 9, 10)
      m <- 0 until 60 by 5
    } yield ("c1", f"2025-01-0${day + 1}%d $hour%02d:$m%02d:00"))
      .toDF("conv_id", "tss").withColumn("ts", to_timestamp($"tss"))
    // the daily score from the operator's exact counts, in double and as
    // the micro-unit integer q_sri_daily_sliding slides over
    val daily = Sri.activityRegularityBucketedCounts(turns, $"conv_id", $"ts",
      tickSeconds = 300, lagTicks = 288, bucketSeconds = 86400L)
      .select($"conv_id", $"bucket_start",
        (lit(200.0) * ($"cmp_ticks" - $"disagree") / $"cmp_ticks" - 100.0).as("sri"),
        floor((lit(100000000L) * ($"cmp_ticks" - lit(2L) * $"disagree")).cast("double")
          / $"cmp_ticks").cast("long").as("sri_us"))
    val scores = daily.orderBy("bucket_start")
      .select($"bucket_start".cast("date").cast("string"), $"sri")
      .as[(String, Double)].collect().toMap
    // day2 matches day1 exactly → 100; day3 vs day2 shifted → lower; day4
    // vs day3 shifted back → lower too (day4's bucket is truncated at the
    // last active tick, so its denominator differs from day3's full day)
    assert(scores("2025-01-02") == 100.0)
    assert(scores("2025-01-03") < 100.0 && scores("2025-01-04") < 100.0)
    // composition: sliding 2-day mean over the daily SRI series (F3)
    val slid = Sliding.slidingStatsExact(daily, $"conv_id", $"bucket_start", 86400L, 2,
      Seq("sri" -> $"sri_us"))
    val last = slid.orderBy($"bucket_start".desc).select($"sri_mean").as[Double].head()
    val us = daily.select($"bucket_start".cast("date").cast("string"), $"sri_us")
      .as[(String, Long)].collect().toMap
    val expectedUs = (us("2025-01-03") + us("2025-01-04")) / 2.0
    assert(math.abs(last - expectedUs) < 1e-9, s"sliding mean $last vs $expectedUs")
    // and the micro-unit mean is the double scores' mean, floored to 1e-6
    val expected = (scores("2025-01-03") + scores("2025-01-04")) / 2.0
    assert(math.abs(last / 1e6 - expected) < 1e-6, s"sliding mean ${last / 1e6} vs $expected")
  }

  test("D2 keep-last per tick: overlapping episodes resolve to latest source (functions/sri.R:37-39)") {
    import org.apache.spark.sql.expressions.Window
    val ticks = Seq(
      ("c1", "2025-01-01 00:00:00", 1, "asleep"),
      ("c1", "2025-01-01 00:00:00", 2, "wake"), // later episode wins
      ("c1", "2025-01-01 00:00:30", 1, "asleep"))
      .toDF("conv_id", "ts", "src_order", "v")
    val w = Window.partitionBy($"conv_id", $"ts").orderBy($"src_order".desc)
    val got = ticks.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .orderBy("ts").select("v").as[String].collect()
    assert(got.toSeq == Seq("wake", "asleep"))
  }
}
