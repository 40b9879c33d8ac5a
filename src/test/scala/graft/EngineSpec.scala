package graft

import org.apache.spark.sql.functions._
import graft.functions.MetricRegistry
import graft.operators.{GapFill, Rollup}
import graft.sources.TranscriptGen

/** Metric registry, gap-fill interpolation, streaming tier = batch tier. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("metric registry: validates names, fans out value×metric, percent/na_sum semantics") {
    intercept[IllegalArgumentException] { MetricRegistry.validate(Seq("mean", "bogus")) }
    val df = Seq(
      ("c1", 1.0, true), ("c1", 3.0, false), ("c1", 5.0, true),
      ("c2", Double.NaN, false)).toDF("k", "v", "b")
      .withColumn("v", nanvl($"v", lit(null))) // NaN→null pre-normalized
    val vAgg = MetricRegistry.summarize(df, Seq($"k"),
      Seq("v" -> $"v"), Seq("mean", "median", "na_sum", "count"))
    val bAgg = MetricRegistry.summarize(df, Seq($"k"), Seq("b" -> $"b"), Seq("percent"))
    val out = vAgg.join(bAgg, "k").collect().map(r => r.getAs[String]("k") -> r).toMap
    val c1 = out("c1")
    assert(c1.getAs[Double]("v_mean") == 3.0)
    assert(c1.getAs[Double]("v_median") == 3.0)
    assert(c1.getAs[Double]("v_na_sum") == 9.0)
    assert(math.abs(c1.getAs[Double]("b_percent") - 200.0 / 3) < 1e-9)
    val c2 = out("c2")
    assert(c2.isNullAt(c2.fieldIndex("v_na_sum")), "all-null group → null na_sum (A8)")
  }

  test("metric registry circular metrics match Rollup block finalizers") {
    val df = Seq(("c1", 23.5), ("c1", 0.5)).toDF("k", "tod")
    val r = MetricRegistry.summarize(df, Seq($"k"), Seq("tod" -> $"tod"),
      Seq("circular_mean", "circular_sd")).head()
    val m = r.getAs[Double]("tod_circular_mean")
    assert(math.abs(if (m > 12) m - 24 else m) < 1e-9)
  }

  test("gap-fill linear interpolation: interior lerp, edge LOCF/NOCB") {
    val tier = Seq(
      ("c1", "2025-01-01 00:00:00", Some(10.0)),
      ("c1", "2025-01-01 01:00:00", None),
      ("c1", "2025-01-01 02:00:00", None),
      ("c1", "2025-01-01 03:00:00", Some(40.0)))
      .toDF("conv_id", "tss", "m")
      .select($"conv_id", to_timestamp($"tss").as("bucket_start"),
        $"m".cast("double").as("m"), lit(1L).as("n_rows"))
    val got = GapFill.interpolatedFrom(tier, "m", tier)
      .orderBy("bucket_start").select("m_interp").as[Double].collect()
    assert(got.toSeq == Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("streaming writes into the shared tier IceTable (foreachBatch append snapshots)") {
    import graft.streaming.StreamTier
    import graft.sources.IceTable
    val dir = java.nio.file.Files.createTempDirectory("stream-in2").toString
    val tableRoot = java.nio.file.Files.createTempDirectory("stream-ice").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-ckpt").toString
    val turns = TranscriptGen.turns(spark, nConvs = 8L, withDuplicates = false).toDF
    turns.write.mode("overwrite").parquet(dir)
    val q = StreamTier.intoIceTable(spark, dir, tableRoot, ckpt, col("text_len"))
    q.awaitTermination(120000)
    val t = IceTable(tableRoot)
    assert(t.currentSnapshotId >= 1, "at least one micro-batch committed a snapshot")
    val stored = t.scan(spark)
    assert(stored.count() > 0)
    // same block schema as the batch tier → batch merge works on it
    val merged = Rollup.rollupTier(stored, "1 hour")
    assert(merged.count() > 0)
  }

  test("streaming 1m tier equals batch 1m tier (shared schema + semantics)") {
    import graft.streaming.StreamTier
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    val turns = TranscriptGen.turns(spark, nConvs = 10L, withDuplicates = false).toDF
    turns.write.mode("overwrite").parquet(dir)

    val q = StreamTier.from(spark, dir, col("text_len"))
      .format("memory").queryName("t1m_stream").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("t1m_stream")
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"))
      .orderBy("conv_id", "bucket_start").collect()
    val batch = Rollup.rollupRaw(
      turns.withColumn("text_len", length($"text").cast("double")),
      $"conv_id", $"ts", $"text_len", "1 minute")
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"))
      .orderBy("conv_id", "bucket_start").collect()
    // append mode emits only buckets whose watermark has passed; with
    // AvailableNow + processAllAvailable the final watermark covers all but
    // the trailing lateness window — compare the emitted prefix.
    assert(streamed.nonEmpty)
    val batchMap = batch.map(r => (r.getString(0), r.get(1)) -> r).toMap
    streamed.foreach { r =>
      val b = batchMap((r.getString(0), r.get(1)))
      assert(b.getLong(2) == r.getLong(2) && b.getDouble(3) == r.getDouble(3))
    }
  }

  test("streaming 1m tier over sf0.01 events equals the batch tier in FULL (row-for-row)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamTier
    // the driver's sf0.01 events table as the stream source; one sentinel
    // row a day past the real max pushes the final watermark beyond every
    // real bucket, so append mode emits the COMPLETE tier (the prefix
    // carve-out of the fixture test above is not needed here)
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
      .select($"user_id".as("conv_id"), $"ts".cast("timestamp").as("ts"), $"value")
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val sentinel = Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 86400000L), 0.0))
      .toDF("conv_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("stream-ev").toString
    ev.unionByName(sentinel).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = StreamTier.tierAggregate(stream, $"value", "1 minute", "10 minutes")
      .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
      .format("memory").queryName("t1m_full").start()
    q.processAllAvailable(); q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", $"n_vals",
        round($"sum", 6).as("s"), $"min", $"max", round($"sum_sin", 9).as("ss"))
      .orderBy("conv_id", "bucket_start")
      .collect()
    val streamed = canon(spark.table("t1m_full").where($"conv_id" =!= -1L))
    val batch = canon(Rollup.rollupRaw(ev, $"conv_id", $"ts", $"value", "1 minute"))
    assert(batch.length == streamed.length,
      s"full equality: batch ${batch.length} vs streamed ${streamed.length} buckets")
    assert(streamed.sameElements(batch))
  }
}
