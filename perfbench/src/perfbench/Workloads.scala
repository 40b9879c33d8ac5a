package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fs, SparkEntry}
import graft.functions.Gorilla
import graft.operators.{CheckpointedRollup, Rollup, TierStore}
import graft.sources.{IceTable, TranscriptGen}

/** What one run measured and checked. A timing is recorded only after its
  * operation's output checks pass; a failed operation or check counts
  * against `attempted` and never as a timing. */
final class Outcome {
  val main = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific end-to-end figures (printed in the report line). */
  val report = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer figures of the traced run. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Input sizes for the run record. */
  val inputs = mutable.LinkedHashMap.empty[String, Any]

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }
}

final case class Ctx(seed: Long, tiny: Boolean, work: String, catalog: String, cores: Int, fault: String, out: Outcome) {
  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $what")
}

/** One workload: seeded inputs, set-up, the timed phase and, when traced,
  * one traced pass whose listener numbers become the per-layer metrics. */
abstract class Workload(val c: Ctx) {
  protected def out: Outcome = c.out

  /** Write the seeded inputs. Not part of any timing. */
  def generate(spark: SparkSession): Unit

  /** Program work before the first timed operation (after session start). */
  def setup(spark: SparkSession, round: Int): Unit

  /** The timed operations, a fixed sequence (each workload says why);
    * with `trace`, also the traced pass. */
  def run(spark: SparkSession, trace: Boolean, tracer: Tracer): Unit

  protected def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** Listeners and spans for the traced pass. The listeners are attached
  * only while a traced call runs, so every other operation of a traced run
  * runs as it does in an untraced one. */
final class Tracer(spark: SparkSession) {
  val jobs = new JobCollector
  val ops = new OpCollector

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Run `body` with listeners attached and spans recorded. Every event of
    * `body` is delivered before the listeners are removed. */
  def traced[T](body: => T): T = {
    drain()
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(ops)
    Trace.enabled = true
    try body
    finally {
      Trace.enabled = false
      drain()
      spark.listenerManager.unregister(ops)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  /** Run `body` as the traced window, with the collectors reset first;
    * returns its result and wall time. */
  def window[T](body: => T): (T, Double) = traced {
    jobs.reset(); ops.reset()
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Operator records of the queries `body` ran. */
  def execsOf[T](body: => T): (T, Seq[OpCollector#Exec]) = {
    val n0 = ops.execs.size
    val r = traced(body)
    (r, ops.execs.drop(n0))
  }
}

/** `tier_store`: the write path. Builds the resumable tier store from an
  * empty root, then runs daily maintenance cycles (append one held-back day
  * plus a late slice, sync, expire the 1m tier behind a rolling cutoff). */
final class TierStoreWorkload(c0: Ctx) extends Workload(c0) {
  import Gen.DayUs
  private val (nConvs, meanTurns) = if (c.tiny) (60L, 20) else (1000L, 25)
  private val startDays = 12
  private val lateDays = 2
  private val retainDays = 6
  private val Builds = 2
  private val Cycles = 3
  /** One held-back day per timed cycle, and one for the traced cycle. */
  private val held = Cycles + 1
  private var in: Gen.StoreInputs = _
  private var source: IceTable = _
  private var cycles = 0
  /** Rows per event day the source holds, from the generated inputs. */
  private val sourceDays = mutable.Map.empty[Long, Long]

  def generate(spark: SparkSession): Unit = {
    in = Gen.writeStoreInputs(spark, c.seed, nConvs, meanTurns, startDays, held, lateDays, s"${c.work}/in")
    sourceDays ++= in.dayRows.filter(_._1 < in.heldDays.head._1)
    out.inputs ++= Seq("turns" -> in.dayRows.values.sum, "ingest_turns" -> sourceDays.values.sum,
      "conversations" -> nConvs, "event_days" -> in.dayRows.size, "held_back_days" -> held)
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    Fs.deleteTreeQuietly(s"${c.work}/src-${round - 1}")
    source = IceTable(s"${c.work}/src-$round")
    Trace.span("sources.IceTable.append")(
      source.append(spark.read.parquet(in.base).sort("ts"), "ts"))
    out.inputs("source_files") = source.currentLiveFiles.size
    // warm-up: a store built from the first held-back day alone, discarded
    val warm = s"${c.work}/warm"
    Fs.deleteTreeQuietly(warm)
    val warmSource = IceTable(s"$warm/src")
    Trace.span("sources.IceTable.append")(warmSource.append(spark.read.parquet(in.heldDays.head._2), "ts"))
    val r = Trace.span("store.TierStore.sync")(
      TierStore.sync(spark, warmSource, s"$warm/store", col("text_len"), parallelism = c.cores))
    c.check(r._3.exists(!_.skipped), "warm-up sync built no 1d day")
    Fs.deleteTreeQuietly(warm)
  }

  private type Results = (Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult])

  private def sync(spark: SparkSession, root: String): Results =
    Trace.span("store.TierStore.sync")(
      TierStore.sync(spark, source, root, col("text_len"), parallelism = c.cores))

  /** sum(n_rows) of the 1m, 1h and 1d tiers, in one query. */
  private def tierRows(spark: SparkSession, root: String): Seq[Long] =
    Trace.span("store.TierStore.scanTier") {
      val tiers = Seq("1m", "1h", "1d")
      val sums = tiers.map(t => TierStore.scanTier(spark, s"$root/$t").select(lit(t).as("tier"), col("n_rows")))
        .reduce(_.unionByName(_)).groupBy("tier").agg(sum(col("n_rows"))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      tiers.map(sums.getOrElse(_, 0L))
    }

  private def markedDays(spark: SparkSession, dir: String): Seq[Long] =
    Trace.span("store.CheckpointedRollup.DayDirSource.pendingDays")(
      new CheckpointedRollup.DayDirSource(spark, dir).pendingDays)

  /** Every tier's sum(n_rows) equals the source turns over its retained days. */
  private def checkTiers(spark: SparkSession, root: String, cutoff1mUs: Long): Unit = {
    val all = sourceDays.values.sum
    val kept1m = sourceDays.filter(_._1 >= cutoff1mUs).values.sum
    val got = tierRows(spark, root)
    c.check(got == Seq(kept1m, all, all), s"tier sum(n_rows) (1m, 1h, 1d) = $got, source (1m, all) = ($kept1m, $all)")
  }

  /** `TierStore.sync` from an empty root: its results and seconds. */
  private def buildFromEmpty(spark: SparkSession, root: String): (Results, Double) = {
    Fs.deleteTreeQuietly(root)
    seconds(sync(spark, root))
  }

  /** A build rebuilt every day, and every tier holds all source turns. The
    * `drop-1m-day` fault damages the store just before the check. */
  private def checkBuild(spark: SparkSession, root: String, r: Results): Unit = {
    c.check(Seq(r._1, r._2, r._3).forall(_.forall(!_.skipped)), "a build from empty skipped a day")
    if (c.fault == "drop-1m-day") {
      val day = r._1(r._1.size / 2).dayUs
      Fs.deleteTreeQuietly(s"$root/1m/day=$day")
    }
    checkTiers(spark, root, Long.MinValue)
  }

  private def build(spark: SparkSession, root: String): (Results, Double) = {
    val (r, s) = buildFromEmpty(spark, root)
    checkBuild(spark, root, r)
    (r, s)
  }

  /** One maintenance cycle; returns (cycle seconds, sync results, sync s,
    * append s, retention s). The no-op re-sync between sync and retention
    * is a check, outside the cycle's time.
    *
    * The source keeps every raw day, so each sync rebuilds every 1m day
    * that the previous cycle's retention removed (all days before its
    * cutoff), and retention removes them again; with the cutoff moving a
    * day per cycle, each cycle rebuilds one expired day more than the one
    * before (`store.days_rebuilt`). */
  private def cycle(spark: SparkSession, root: String): (Double, Results, Double, Double, Double) = {
    val (day, dayPath, latePath) = in.heldDays(cycles)
    cycles += 1
    val (_, appendS) = seconds(Trace.span("sources.IceTable.append")(
      source.append(spark.read.parquet(dayPath).unionByName(spark.read.parquet(latePath)), "ts")))
    sourceDays(day) = sourceDays.getOrElse(day, 0L) + in.dayRows(day)
    sourceDays(day - lateDays * DayUs) = sourceDays.getOrElse(day - lateDays * DayUs, 0L) + in.lateRows(day)
    val (r, syncS) = seconds(sync(spark, root))
    val rebuilt1m = r._1.filterNot(_.skipped).map(_.dayUs).toSet
    c.check(rebuilt1m.contains(day) && rebuilt1m.contains(day - lateDays * DayUs),
      s"sync did not rebuild the appended day $day and the late day")
    val again = sync(spark, root)
    val again1m = Seq(again._1, again._2, again._3).flatten.count(!_.skipped)
    c.check(again1m == 0, s"an immediate re-sync rebuilt $again1m days")
    val cutoff = day - (retainDays - 1) * DayUs
    val before = markedDays(spark, s"$root/1m")
    val (dropped, retS) = seconds(Trace.span("store.TierStore.expireDays")(
      TierStore.expireDays(spark, s"$root/1m", cutoff)))
    val expected = before.filter(_ + DayUs <= cutoff)
    c.check(dropped.sorted == expected.sorted, s"expireDays dropped ${dropped.size} days, expected ${expected.size}")
    val left = markedDays(spark, s"$root/1m")
    c.check(left.forall(_ >= cutoff), "expireDays left a day before the cutoff")
    checkTiers(spark, root, cutoff)
    (appendS + syncS + retS, r, syncS, appendS, retS)
  }

  /** The store's 1d tier equals a fresh cascade over the source: counts,
    * min and max exactly, float sums within a relative 1e-9. */
  private def checkAgainstCascade(spark: SparkSession, root: String): Unit = {
    val (_, _, fresh) = Trace.span("operators.Rollup.cascadeCoPartitioned")(Rollup.cascadeCoPartitioned(
      Trace.span("sources.IceTable.scan")(source.scan(spark)), col("conv_id"), col("ts"), col("text_len")))
    val store = Trace.span("store.TierStore.scanTier")(TierStore.scanTier(spark, s"$root/1d"))
    val keys = Seq("conv_id", "bucket_start")
    val exact = Seq("n_rows", "n_vals", "min", "max")
    val approx = Seq("sum", "sum_sq", "sum_sin", "sum_cos")
    def side(df: DataFrame, p: String) = df.select((keys.map(col) ++ (exact ++ approx).map(k => col(k).as(p + k))): _*)
    val j = side(store, "s_").join(side(fresh, "f_"), keys, "full_outer")
    val bad = j.where(
      exact.map(k => !col("s_" + k).eqNullSafe(col("f_" + k))).reduce(_ || _) ||
        approx.map(k => col("s_" + k).isNull || col("f_" + k).isNull ||
          abs(col("s_" + k) - col("f_" + k)) > abs(col("f_" + k)) * 1e-9 + 1e-9).reduce(_ || _))
      .count()
    c.check(bad == 0, s"store 1d differs from the cascade's 1d on $bad rows")
  }

  private def treeBytes(path: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try walk.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally walk.close()
  }

  /** Store bytes per source turn, and Gorilla bytes per point of the 1m tier. */
  private def storeSizes(spark: SparkSession, root: String): Unit = {
    val bytes = Seq("1m", "1h", "1d").map(t => treeBytes(s"$root/$t")).sum
    out.report("store_bytes_per_turn") = bytes.toDouble / sourceDays.values.sum
    val points = udf((b: Array[Byte]) => Gorilla.pointCount(b).toLong)
    val g = Trace.span("store.TierStore.scanTier")(TierStore.scanTier(spark, s"$root/1m"))
      .agg(sum(length(col("gblock"))).as("b"), sum(points(col("gblock"))).as("p")).head()
    out.report("store_gorilla_bytes_per_point") = g.getLong(0).toDouble / g.getLong(1)
  }

  /** A fixed sequence, not a timed loop: each cycle's cost depends on its
    * position (see `cycle`), so every run makes the same operations. */
  def run(spark: SparkSession, trace: Boolean, tracer: Tracer): Unit = {
    var root = ""
    for (b <- 0 until Builds) {
      val next = s"${c.work}/store-$b"
      out.attempt("build")(build(spark, next)).foreach { case (_, s) => out.main += s }
      if (root.nonEmpty) Fs.deleteTreeQuietly(root)
      root = next
    }
    c.log("builds done")
    out.attempt("store sizes")(storeSizes(spark, root))
    if (trace) tracedBuild(spark, tracer)
    for (_ <- 0 until Cycles) out.attempt("cycle")(cycle(spark, root)).foreach(r => out.ops += r._1)
    c.log("cycles done")
    out.attempt("store 1d equals cascade 1d")(checkAgainstCascade(spark, root))
    c.log("final check done")
    if (trace) {
      tracedCycle(spark, root, tracer)
      tracedCascade(spark, tracer)
    }
  }

  private def tierOf(path: String): Option[String] =
    "/(1m|1h|1d)/".r.findFirstMatchIn(path).map(_.group(1))

  /** When a tier's last day committed: the latest modification time (ms)
    * of its day markers. */
  private def lastCommitMs(tierDir: String): Long =
    new java.io.File(tierDir, "_checkpoints").listFiles()
      .filter(f => f.getName.startsWith("day-") && f.getName.endsWith(".json"))
      .map(_.lastModified).max

  /** One build from empty, traced; the window holds the sync alone, and
    * the build's checks run after it. */
  private def tracedBuild(spark: SparkSession, tracer: Tracer): Unit = out.attempt("traced build") {
    val root = s"${c.work}/store-traced"
    val ((r, syncS), wall) = tracer.window(Trace.span("workload.tier_store.build")(buildFromEmpty(spark, root)))
    out.layers ++= Layers.generic(tracer.jobs, tracer.ops, wall)
    out.layers("trace.overhead_ratio") = syncS / Layers.median(out.main.toSeq)
    val syncSpan = Trace.named("store.TierStore.sync").last
    // the tiers run one after another, each ending with its last day's
    // commit: a tier runs from the previous tier's last marker (the sync's
    // start for 1m) to its own, so each tier's set-up (pending days,
    // fingerprints, marker reads) is booked to it
    val tiers = Seq("1m", "1h", "1d")
    val bounds = syncSpan.startMs +: tiers.map(t => lastCommitMs(s"$root/$t"))
    val jobs = tracer.jobs.finishedJobs.filter(j => j.startMs >= syncSpan.startMs && j.startMs <= syncSpan.endMs)
    def tierAt(ms: Long): String = tiers(math.max(0, bounds.lastIndexWhere(_ <= ms).min(2)))
    tiers.zipWithIndex.foreach { case (t, i) =>
      val (lo, hi) = (bounds(i), bounds(i + 1))
      val wallT = (hi - lo) / 1000.0
      val busy = Layers.busySeconds(jobs.filter(j => tierAt(j.startMs) == t)
        .map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi))))
      out.layers(s"store.t${t}_s") = wallT
      out.layers(s"store.t${t}_job_busy_s") = busy
      out.layers(s"store.t${t}_driver_outside_jobs_s") = math.max(0.0, wallT - busy)
    }
    out.layers("store.build_wall_s") = syncSpan.seconds
    out.layers("store.after_last_commit_s") = (syncSpan.endMs - bounds(3)) / 1000.0
    // SQL executions → tier, by the output path of each execution's write;
    // a write job that falls in another tier's time means the split is off
    val execTier: Map[Long, String] = tracer.jobs.synchronized(tracer.jobs.writePaths.toMap)
      .flatMap { case (id, p) => tierOf(p).map(id -> _) }
    out.layers("store.write_jobs_off_tier") =
      jobs.count(j => execTier.get(j.execId).exists(_ != tierAt(j.startMs))).toDouble
    out.layers("store.jobs") = jobs.size.toDouble
    // jobs of a file write, of other SQL executions, and outside SQL (file
    // listing and the like)
    out.layers("store.write_jobs") = jobs.count(j => execTier.contains(j.execId)).toDouble
    out.layers("store.other_sql_jobs") = jobs.count(j => j.execId >= 0 && !execTier.contains(j.execId)).toDouble
    out.layers("store.non_sql_jobs") = jobs.count(_.execId < 0).toDouble
    val busy = Layers.busySeconds(jobs.map(j => (j.startMs, j.endMs)))
    out.layers("store.job_busy_s") = busy
    out.layers("store.driver_outside_jobs_s") = math.max(0.0, syncSpan.seconds - busy)
    val writes = tracer.ops.execs.flatMap(_.writes).filter(w => tierOf(w.path).isDefined)
    out.layers("store.rows_written") = writes.map(_.rows).sum.toDouble
    out.layers("store.files_written") = writes.map(_.files).sum.toDouble
    out.layers("store.output_bytes") = writes.map(_.bytes).sum.toDouble
    val srcScans = tracer.ops.execs.flatMap(_.scans).filter(_.root.contains(source.root.stripPrefix("file:")))
    val days1m = r._1.size.toDouble
    out.layers("sources.files_read_per_day") = srcScans.map(_.files).sum / days1m
    out.layers("sources.scan_bytes_per_day") = srcScans.map(_.bytes).sum / days1m
    checkBuild(spark, root, r)
    out.attempt("gorilla encode")(tracer.traced(gorillaEncode(spark, root)))
    Fs.deleteTreeQuietly(root)
  }

  /** Gorilla.encode time per point, over points decoded from committed 1m
    * blocks. */
  private def gorillaEncode(spark: SparkSession, root: String): Unit = {
    val blocks = Trace.span("store.TierStore.scanTier")(TierStore.scanTier(spark, s"$root/1m")).select("gblock").limit(20000)
      .collect().map(_.getAs[Array[Byte]](0))
    val series = Trace.span("functions.Gorilla.decode")(blocks.map(Gorilla.decode))
    val points = series.map(_._1.length.toLong).sum
    var reps = 0
    var bytes = 0L
    val (_, s) = seconds(Trace.span("functions.Gorilla.encode") {
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 300000000L) {
        series.foreach { case (ts, vs) => bytes += Gorilla.encode(ts, vs, ts.length).length }
        reps += 1
      }
    })
    c.check(bytes == blocks.map(_.length.toLong).sum * reps, "Gorilla.encode(decode(block)) changed a block's size")
    out.layers("functions.gorilla_encode_ns_per_point") = s * 1e9 / (points * reps)
  }

  private def tracedCycle(spark: SparkSession, root: String, tracer: Tracer): Unit = out.attempt("traced cycle") {
    val (total, r, syncS, appendS, retS) = tracer.traced(Trace.span("workload.tier_store.cycle")(cycle(spark, root)))
    val all = Seq(r._1, r._2, r._3).flatten
    out.layers("store.cycle_s") = total
    out.layers("sources.ice_append_s") = appendS
    out.layers("store.sync_s") = syncS
    out.layers("store.retention_s") = retS
    out.layers("store.noop_sync_s") = Trace.named("store.TierStore.sync").last.seconds
    out.layers("store.days_rebuilt") = all.count(!_.skipped).toDouble
    out.layers("store.days_skipped") = all.count(_.skipped).toDouble
  }

  /** The raw → 1m → 1h → 1d cascade over the source (one co-partitioned
    * exchange, nothing written), the 1m rollup alone into a noop sink, and a
    * noop scan, each traced once. */
  private def tracedCascade(spark: SparkSession, tracer: Tracer): Unit = out.attempt("traced cascade") {
    val turns = sourceDays.values.sum
    def raw() = Trace.span("sources.IceTable.scan")(source.scan(spark))
    val (_, cascadeS) = tracer.traced(seconds(Trace.span("operators.Rollup.cascadeCoPartitioned") {
      val (_, _, t1d) = Rollup.cascadeCoPartitioned(raw(), col("conv_id"), col("ts"), col("text_len"))
      val n = t1d.agg(sum(col("n_rows"))).head().getLong(0)
      c.check(n == turns, s"cascade 1d sum(n_rows) $n != source turns $turns")
    }))
    out.layers("operators.cascade_s") = cascadeS
    out.layers("operators.cascade_turns_per_s") = turns / cascadeS
    val obs = Observation("rows")
    val (_, rollupS) = tracer.traced(seconds(noop(Trace.span("operators.Rollup.rollupRaw")(
      Rollup.rollupRaw(raw(), col("conv_id"), col("ts"), col("text_len"), "1 minute")).observe(obs, sum(col("n_rows")).as("n")))))
    val n1m = obs.get("n").asInstanceOf[Long]
    c.check(n1m == turns, s"1m sum(n_rows) $n1m != source turns $turns")
    out.layers("operators.rollup_1m_s") = rollupS
    val ((_, scanS), execs) = tracer.execsOf(seconds(Trace.span("sources.scan")(
      noop(raw().select("conv_id", "ts", "text")))))
    out.layers("sources.noop_scan_s") = scanS
    out.layers("sources.noop_scan_bytes") = execs.flatMap(_.scans).map(_.bytes).sum.toDouble
  }
}

/** `queries`: every catalog query over the sf0.01 catalog kept with the
  * benchmark, each built and materialized through a noop sink, in name
  * order. (A seeded order would move first-use costs from query to query
  * between runs.) The catalog is the same at both scales: a pass costs
  * mostly planning and code generation, not data. */
final class QueriesWorkload(c0: Ctx) extends Workload(c0) {
  private val dir = c.catalog
  private val order = SparkEntry.queries.keys.toSeq.sorted

  /** Records the catalog's size; its rows come from the parquet footers. */
  def generate(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val rows = tables.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try f.getName.stripSuffix(".parquet") -> r.getRecordCount finally r.close()
    }
    out.inputs ++= Seq("queries" -> order.size, "catalog_rows" -> rows.map(_._2).sum,
      "table_rows" -> scala.collection.immutable.ListMap(rows.toSeq: _*), "source_files" -> tables.length)
  }

  def setup(spark: SparkSession, round: Int): Unit =
    noop(spark.read.parquet(s"$dir/events.parquet"))

  /** Wall time of building and running one query, checked. */
  private def query(spark: SparkSession, name: String): Double = {
    val obs = Observation(name)
    val (_, s) = seconds(Trace.span(s"queries.$name") {
      val df = SparkEntry.queries(name)(spark, dir)
      noop(df.observe(obs, count(lit(1)).as("n")))
    })
    val n = obs.get("n").asInstanceOf[Long]
    c.check(n > 0, s"$name returned no rows")
    s
  }

  private def pass(spark: SparkSession, names: Seq[String] = order): Seq[(String, Double)] =
    names.flatMap(q => out.attempt(q)(query(spark, q)).map(q -> _))

  /** One pass, the first in a fresh session: a fixed sequence, because a
    * second pass runs warm and would change what is measured. Its total is
    * `main_s`, what running the catalog once costs. */
  def run(spark: SparkSession, trace: Boolean, tracer: Tracer): Unit = {
    val times = pass(spark).map(_._2)
    out.main += times.sum
    out.ops ++= times
    out.report("queries_total_s") = times.sum
    out.report("query_p50_s") = Layers.median(times)
    out.report("query_p80_s") = times.sorted.apply(((times.size - 1) * 0.8).round.toInt)
    if (trace) out.attempt("traced pass") {
      val (traced, wall) = tracer.window(Trace.span("workload.queries")(pass(spark)))
      out.layers ++= Layers.generic(tracer.jobs, tracer.ops, wall)
      traced.foreach { case (q, t) => out.layers(s"q.${q}_s") = t }
      // the traced pass is warm, so its baseline is an untraced warm run,
      // made after it, of every fourth query (a whole pass would take as
      // long again)
      val sample = order.indices.filter(_ % 4 == 0).map(order).toSet
      val warm = pass(spark, order.filter(sample)).map(_._2).sum
      out.layers("trace.overhead_ratio") = traced.filter(t => sample(t._1)).map(_._2).sum / warm
    }
  }
}
