package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Rows of the full outer join of `a` and `b` on `keys` that differ: an
    * `exact` column not null-safe equal, or an `approx` column null on
    * either side or apart by more than 1e-9 relative (+1e-9 absolute) —
    * float sums follow the summation order, which partitioning decides. */
  def mismatches(a: DataFrame, b: DataFrame, keys: Seq[String], exact: Seq[String], approx: Seq[String]): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select((keys.map(col) ++ (exact ++ approx).map(k => col(k).as(p + k))): _*)
    side(a, "a_").join(side(b, "b_"), keys, "full_outer").where(
      exact.map(k => !col("a_" + k).eqNullSafe(col("b_" + k))).reduce(_ || _) ||
        approx.map(k => col("a_" + k).isNull || col("b_" + k).isNull ||
          abs(col("a_" + k) - col("b_" + k)) > abs(col("b_" + k)) * 1e-9 + 1e-9).reduce(_ || _))
  }
}
