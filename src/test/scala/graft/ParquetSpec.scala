package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CheckpointedRollup, TierStore}
import graft.sources.{Catalog, IceTable, Parquet, TranscriptGen}

/** The footer-schema parquet reader: the schema Spark would infer, with no
  * Spark job to infer it; and Spark's own behaviour where it falls back. */
class ParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** The DataFrame is built with no Spark job and has the schema a plain
    * `spark.read.parquet` of `paths` infers. */
  private def assertLikeSpark(what: String, paths: Seq[String])(open: => DataFrame): DataFrame = {
    val (df, jobs) = jobsDuring(open)
    assert(jobs.isEmpty, s"$what: ${jobs.size} Spark job(s) started while building the DataFrame")
    assert(df.schema == spark.read.parquet(paths: _*).schema, s"$what: schema differs from spark.read.parquet")
    df
  }

  private lazy val store: String = {
    val src = IceTable(tmp("pq-src"))
    src.append(TranscriptGen.turns(spark, nConvs = 6L, withDuplicates = false).toDF
      .where($"ts" < "2025-01-05").withColumn("text_len", length($"text").cast("double")), "ts")
    val root = tmp("pq-store")
    TierStore.sync(spark, src, root, $"text_len", parallelism = 2)
    root
  }

  test("an arrow-written catalog file opens with Spark's inferred schema and no job") {
    // the sf0.01 catalog committed with the benchmark, written by arrow
    // (no Spark row metadata: the schema comes from the converter)
    val path = "perfbench/data/sf0.01/events.parquet"
    val df = assertLikeSpark("catalog file", Seq(path))(Catalog.open(spark, path))
    assert(df.count() == spark.read.parquet(path).count())
  }

  test("IceTable data files open with Spark's inferred schema and no job") {
    val t = IceTable(tmp("pq-ice"))
    t.append(TranscriptGen.turns(spark, nConvs = 4L, withDuplicates = false).toDF, "ts")
    t.append(TranscriptGen.turns(spark, nConvs = 3L, withDuplicates = false).toDF, "ts")
    val files = t.currentLiveFiles.map(_.path)
    assert(files.size > 1)
    val df = assertLikeSpark("IceTable files", files)(t.scan(spark))
    assert(df.orderBy("conv_id", "ts", "turn_idx").collect()
      .sameElements(spark.read.parquet(files: _*).orderBy("conv_id", "ts", "turn_idx").collect()))
  }

  test("a tier day dir and a day=* glob open with Spark's inferred schema and no job") {
    val dir = s"$store/1h"
    val src = new CheckpointedRollup.DayDirSource(spark, dir)
    val days = src.pendingDays
    assert(days.size >= 2)
    assertLikeSpark("tier day dir", Seq(s"$dir/day=${days.head}"))(src.scanDays(spark, Seq(days.head)))
    assertLikeSpark("tier day dirs", days.map(d => s"$dir/day=$d"))(src.scanDays(spark, days))
    val glob = s"$dir/day=*"
    val df = assertLikeSpark("day=* glob", Seq(glob))(TierStore.scanTier(spark, dir))
    assert(!df.columns.contains("day"), "a glob over day dirs must not add a partition column")
    val (plain, plainWarnings) = warningsDuring(spark.read.parquet(glob))
    def sorted(d: DataFrame) = d.orderBy("conv_id", "bucket_start").collect().toSeq
    assert(sorted(df) == sorted(plain))
    // the glob is expanded before Spark sees it: Spark's streaming-sink
    // probe of a single glob path logs a WARN with a FileNotFoundException
    // trace (the plain read shows the capture sees it)
    val (_, warnings) = warningsDuring(TierStore.scanTier(spark, dir))
    def sinkProbes(events: Seq[LogEvent]) = events.filter(e => e.getLoggerName.endsWith(".FileStreamSink") ||
      e.getThrown.isInstanceOf[java.io.FileNotFoundException])
    assert(sinkProbes(plainWarnings).nonEmpty, "a plain read of the glob no longer logs the probe's WARN")
    assert(sinkProbes(warnings).isEmpty, s"scanTier logged: ${sinkProbes(warnings).map(_.getMessage.getFormattedMessage)}")
  }

  /** `body`'s result and the WARN (or worse) events logged while it ran. */
  private def warningsDuring[T](body: => T): (T, Seq[LogEvent]) = {
    val seen = new ConcurrentLinkedQueue[LogEvent]()
    val appender = new AbstractAppender("parquet-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.toImmutable)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try {
      val r = body
      (r, seen.asScala.toSeq.filter(_.getLevel.isMoreSpecificThan(Level.WARN)))
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  /** The one data file a single-task write of `df` leaves in a new dir. */
  private def oneFile(df: DataFrame, prefix: String): java.io.File = {
    val dir = tmp(prefix)
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  test("a _metadata summary wins over the data files, as in Spark") {
    val root = tmp("pq-summary")
    Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(root)
    Files.copy(oneFile(Seq("s").toDF("x"), "pq-summary-src").toPath,
      java.nio.file.Paths.get(root, "_metadata"))
    val df = assertLikeSpark("dir with _metadata", Seq(root))(Parquet.read(spark, root))
    assert(df.columns.toSeq == Seq("x"), "the _metadata footer must give the schema")
  }

  test("known data files take the first file's footer in path order, as in Spark") {
    // sibling temp dirs: pq-files-1… sorts before pq-files-2…
    val first = oneFile(Seq(1L).toDF("a"), "pq-files-1").getPath
    val second = oneFile(Seq("s").toDF("b"), "pq-files-2").getPath
    val files = Seq(second, first)
    val df = assertLikeSpark("known files", files)(Parquet.readFiles(spark, files))
    assert(df.columns.toSeq == Seq("a"), "the first file in path order must give the schema")
  }

  test("partition dirs below the path still become partition columns") {
    val root = tmp("pq-part")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.mode("overwrite").partitionBy("k").parquet(root)
    val df = assertLikeSpark("partitioned dir", Seq(root))(Parquet.read(spark, root))
    assert(df.columns.toSeq == Seq("id", "k"))
  }

  test("mergeSchema on falls back to Spark's merged inference") {
    val root = tmp("pq-merge")
    Seq(1L).toDF("a").write.parquet(s"$root/p1")
    Seq(2L).toDF("b").write.parquet(s"$root/p2")
    val paths = Seq(s"$root/p1", s"$root/p2")
    assert(Parquet.footerSchema(spark, paths).map(_.fieldNames.toSeq).contains(Seq("a")))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Parquet.footerSchema(spark, paths).isEmpty)
      val df = Parquet.read(spark, paths: _*)
      assert(df.schema == spark.read.parquet(paths: _*).schema)
      assert(df.columns.toSet == Set("a", "b"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path fails with Spark's own error") {
    val missing = s"${tmp("pq-missing")}/nope.parquet"
    val ours = intercept[Exception](Parquet.read(spark, missing))
    val theirs = intercept[Exception](spark.read.parquet(missing))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getMessage == theirs.getMessage)
  }
}
