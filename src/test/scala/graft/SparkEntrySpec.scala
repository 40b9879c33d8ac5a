package graft

import org.apache.spark.sql.functions._

import graft.operators.Rollup
import graft.sources.TranscriptGen

/** The flagship `SparkEntry.entry` (raw → tier store → retention → finalized
  * 1d tier) against a direct raw → 1d rollup of the same input. */
class SparkEntrySpec extends SparkSpec {

  test("entry: finalized 1d tier equals a direct raw→1d rollup of the same transcripts") {
    val got = SparkEntry.entry(spark)
    val turns = TranscriptGen.withMeasures(TranscriptGen.turns(spark, nConvs = 50L).toDF())
    val want = Rollup.finalized(
      Rollup.rollupRaw(turns, col("conv_id"), col("ts"), col("text_len"), "1 day"))
    // the tier rows carry a Gorilla block that a plain rollup has not
    assert(got.columns.filterNot(_ == "gblock").toSeq == want.columns.toSeq,
      s"entry columns ${got.columns.mkString(",")} vs rollup ${want.columns.mkString(",")}")
    assert(got.count() > 0)
    val bad = mismatches(got, want, Seq("conv_id", "bucket_start"),
      Seq("n_rows", "n_vals", "min", "max"), Seq("sum", "sum_sq", "sum_sin", "sum_cos"))
    assert(bad.count() == 0, s"entry differs from the direct rollup: ${bad.take(3).mkString("; ")}")
  }
}
