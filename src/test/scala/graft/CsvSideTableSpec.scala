package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.functions.TimeBuckets

/** S3/S4 + J4 parity: CSV side tables (the reference's `visits` infections
  * and `selected_vars`, /root/reference/scripts/sleepSD.R:6-14,
  * /root/reference/scripts/etl/fetch-data.R:13-22) — header CSV in, anchor
  * broadcast join, retention filter, CSV out. */
class CsvSideTableSpec extends SparkSpec {
  import spark.implicits._

  test("CSV anchor side table drives the retention join; CSV sink round-trips") {
    val dir = Files.createTempDirectory("csv").toString
    // visits-like side table: entity → anchor date (cast-on-read parity:
    // everything lands as string, reference casts explicitly)
    Files.writeString(java.nio.file.Paths.get(s"$dir/visits.csv"),
      "conv_id,infect_yn,anchor_dt\nc1,1,2025-01-10\nc2,0,\nc3,1,2025-02-01\n")
    val visits = spark.read.option("header", true).csv(s"$dir/visits.csv")
    assert(visits.schema.fields.forall(_.dataType.typeName == "string"), "CSV reads stringly")

    val anchors = visits
      .where($"infect_yn" === "1" && $"anchor_dt".isNotNull)
      .select($"conv_id", to_timestamp($"anchor_dt").as("anchor"))

    val rows = Seq(
      ("c1", "2025-01-05 00:00:00", 1.0), // before anchor → dropped
      ("c1", "2025-01-20 00:00:00", 2.0), // within 0mo window → kept
      ("c3", "2025-02-02 00:00:00", 3.0),
      ("c2", "2025-03-01 00:00:00", 4.0)) // no anchor → dropped by inner join
      .toDF("conv_id", "tss", "v")
      .withColumn("ts", to_timestamp($"tss"))

    val kept = rows
      .join(broadcast(anchors), Seq("conv_id"))
      .where(TimeBuckets.afterRetentionInterval($"ts", $"anchor", "0 MONTH"))
    assert(kept.select("v").as[Double].collect().toSet == Set(2.0, 3.0))

    // CSV sink round-trip (S4)
    kept.select($"conv_id", $"v").coalesce(1)
      .write.option("header", true).mode("overwrite").csv(s"$dir/out")
    val back = spark.read.option("header", true).csv(s"$dir/out")
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("conv_id", "v"))
  }
}
