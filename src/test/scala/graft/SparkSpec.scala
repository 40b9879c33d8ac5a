package graft

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CheckpointedRollup

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

  /** `body`'s result and the local properties of each Spark job started
    * while it ran, in start order. A marker job run afterwards flushes the
    * listener bus: events arrive in order, so once the marker's start is
    * seen, every earlier job's has been too. */
  def jobsDuring[T](body: => T): (T, Seq[Properties]) = {
    val started = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).getOrElse(new Properties()))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val r = body
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      def isMarker(p: Properties) = p.getProperty("spark.job.description") == marker
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(started.asScala.exists(isMarker), "the listener never saw the marker job")
      (r, started.asScala.toSeq.filterNot(isMarker))
    } finally sc.removeSparkListener(listener)
  }

  /** The tiers of a tier store (TierStore.sync), by directory name. */
  val Tiers: Seq[String] = Seq("1m", "1h", "1d")

  /** Day `d`'s marker in `tier` of the store at `root`. */
  def markerFile(root: String, tier: String, d: Long): java.nio.file.Path =
    Paths.get(s"$root/$tier/_checkpoints/day-$d.json")

  /** Every committed day dir's files: each must hold exactly one parquet
    * file; its bytes, by "<tier>/day=<d>". */
  def dayFiles(root: String): Map[String, Seq[Byte]] =
    Tiers.flatMap { tier =>
      new java.io.File(s"$root/$tier").listFiles().filter(_.getName.startsWith("day=")).map { dir =>
        val parquet = dir.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parquet.length == 1, s"$tier/${dir.getName} holds ${parquet.length} parquet files")
        s"$tier/${dir.getName}" -> Files.readAllBytes(parquet.head.toPath).toSeq
      }
    }.toMap

  /** Every day marker of `root`, as written, by "<tier>/<day>". */
  def markers(root: String): Map[String, String] =
    Tiers.flatMap { tier =>
      new CheckpointedRollup.DayDirSource(spark, s"$root/$tier").pendingDays
        .map(d => s"$tier/$d" -> Files.readString(markerFile(root, tier, d)))
    }.toMap

  /** The two stores hold byte-identical day files and markers. */
  def assertSameStore(a: String, b: String): Unit = {
    val (fa, fb) = (dayFiles(a), dayFiles(b))
    assert(fa.keySet == fb.keySet)
    fa.keys.foreach(k => assert(fa(k) == fb(k), s"$k: day files differ"))
    assert(markers(a) == markers(b))
  }

  /** The description of a job, from its local properties ("" if none). */
  def description(job: Properties): String = Option(job.getProperty("spark.job.description")).getOrElse("")

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
