package graft

import org.apache.spark.sql.functions._
import graft.functions.MetricRegistry
import graft.operators.GapFill

/** Metric registry and gap-fill interpolation. */
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
}
