package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TranscriptGen

/** Seeded transcripts for the `tier_store` workload; the
  * same seed gives byte-identical tables.
  *
  * Transcripts keep TranscriptGen's shape (Turn schema, mean turns per
  * conversation, two 100x mega-conversations, a 2 h pause every 20 turns,
  * ~1% exact duplicates) with every hash salted by the seed, then pass
  * through `TranscriptGen.withMeasures`. */
object Gen {

  val DayUs = 86400000000L

  /** Seed-salted TranscriptGen shape, as a Turn-schema DataFrame, with
    * conversations starting over `startDays` days. */
  def turns(spark: SparkSession, seed: Long, nConvs: Long, meanTurns: Int, startDays: Int): DataFrame = {
    import spark.implicits._
    val salt = lit(s"s$seed")
    val parallelism = spark.sparkContext.defaultParallelism
    val convs = spark
      .range(0L, nConvs, 1L, parallelism)
      .withColumn("conv_id", format_string("conv%08d", $"id"))
      .withColumn("h", abs(xxhash64(salt, lit("sz"), $"conv_id")))
      .withColumn(
        "n_turns",
        when($"id" < 2, lit(meanTurns * 100))
          .otherwise(($"h" % (2 * meanTurns - 2) + 2).cast("int")))
      // the two mega-conversations start within the first hour, so every
      // seed spans the same event days
      .withColumn("start_off_s", abs(xxhash64(salt, lit("st"), $"conv_id")) %
        when($"id" < 2, lit(3600L)).otherwise(lit(startDays * 86400L)))
    val base = convs
      .select($"conv_id", $"start_off_s", explode(sequence(lit(0), $"n_turns" - 1)).as("turn_idx"))
      .repartition(parallelism)
      .withColumn("h", abs(xxhash64(salt, $"conv_id", $"turn_idx")))
      .withColumn(
        "off_s",
        $"start_off_s" + $"turn_idx" * 37L + ($"h" % 25L) + ($"turn_idx".cast("long") / 20L) * 7200L)
      .withColumn("ts", timestamp_seconds(unix_timestamp(lit(TranscriptGen.EpochStart)) + $"off_s"))
      .withColumn(
        "role",
        when($"turn_idx" % 2 === 0, lit("user"))
          .when($"h" % 5 === 0, lit("tool"))
          .otherwise(lit("assistant")))
      .withColumn(
        "tool",
        when($"role" === "tool", element_at(array(lit("search"), lit("code"), lit("browse")), ($"h" % 3 + 1).cast("int")))
          .otherwise(lit("")))
      .withColumn(
        "text",
        concat(
          lit("turn "), $"turn_idx".cast("string"), lit(" of "), $"conv_id", lit(": "),
          repeat(concat(lit("w"), ($"h" % 7).cast("string"), lit(" ")), ($"h" % 40 + 1).cast("int"))))
      .select($"conv_id", $"turn_idx".cast("int").as("turn_idx"), $"role", $"text", $"tool", $"ts")
    base.unionAll(base.where(abs(xxhash64(salt, lit("dup"), $"conv_id", $"turn_idx")) % 97 === 0))
  }

  /** `dayRows`: rows per event day over all generated days; `lateRows`:
    * rows of each held day's late slice. */
  final case class StoreInputs(
      base: String,
      heldDays: Seq[(Long, String, String)],
      dayRows: Map[Long, Long],
      lateRows: Map[Long, Long])

  /** Split seeded transcripts into the ingest set, the last `held` event
    * days (one parquet dir each) and one late slice per held day: ~1% of
    * that day's rows re-timestamped `lateDays` days earlier. Rows after the
    * `startDays` days of the start window are dropped, so that the last
    * day is a full day for every seed. */
  def writeStoreInputs(
      spark: SparkSession,
      seed: Long,
      nConvs: Long,
      meanTurns: Int,
      startDays: Int,
      held: Int,
      lateDays: Int,
      dir: String): StoreInputs = {
    TranscriptGen.withMeasures(turns(spark, seed, nConvs, meanTurns, startDays))
      .withColumn("_day", (floor(unix_micros(col("ts")) / lit(DayUs.toDouble)) * lit(DayUs)).cast("long"))
      .where(col("_day") < unix_micros(lit(TranscriptGen.EpochStart).cast("timestamp")) + lit(startDays * DayUs))
      .write.mode("overwrite").parquet(s"$dir/all")
    val all = spark.read.parquet(s"$dir/all")
    val dayRows = all.groupBy("_day").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val days = dayRows.keys.toSeq.sorted
    val first = days.takeRight(held).head
    all.where(col("_day") < first).drop("_day").write.mode("overwrite").parquet(s"$dir/base")
    val tail = all.where(col("_day") >= first)
    // 1% of each held day (at least one row), in a seeded order
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("_day")
      .orderBy(xxhash64(lit(s"s$seed"), lit("late"), col("conv_id"), col("turn_idx")))
    val late = tail
      .withColumn("_n", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("_day")))
      .withColumn("_r", row_number().over(byHash))
      .where(col("_r") <= greatest(lit(1L), (col("_n") / 100).cast("long")))
      .drop("_n", "_r")
      .withColumn("ts", col("ts") - expr(s"INTERVAL $lateDays DAYS"))
    tail.withColumn("_kind", lit("day")).unionByName(late.withColumn("_kind", lit("late")))
      .write.mode("overwrite").partitionBy("_kind", "_day").parquet(s"$dir/held")
    val heldPaths = days.takeRight(held).map(d => (d, s"$dir/held/_kind=day/_day=$d", s"$dir/held/_kind=late/_day=$d"))
    StoreInputs(s"$dir/base", heldPaths, dayRows,
      days.takeRight(held).map(d => d -> math.max(1L, dayRows(d) / 100)).toMap)
  }
}
