package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Fs

/** Benchmark main: one workload, one seed, one run.
  *
  *   perfbench.Main --workload tier_store|queries --seed N
  *     --seconds S --trace 0|1 --build-dir DIR --catalog DIR
  *     [--scale full|tiny] [--fault none|drop-1m-day]
  *
  * The last stdout line is the result object; the line before it is the
  * run's full report (workload figures, per-layer figures, run record). */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      buildDir: String = ".bench_build",
      catalog: String = "perfbench/data/sf0.01",
      tiny: Boolean = false,
      fault: String = "none")

  private def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--build-dir" :: v :: rest => parse(rest, a.copy(buildDir = v))
    case "--catalog" :: v :: rest => parse(rest, a.copy(catalog = v))
    case "--scale" :: v :: rest => parse(rest, a.copy(tiny = v == "tiny"))
    case "--fault" :: v :: rest => parse(rest, a.copy(fault = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  /** The session settings of the repo's bench driver, with every local
    * directory kept inside the build dir. */
  def session(cores: Int, localDir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$localDir/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val SetupRounds = 3

  /** Renders the report, the result and the spans. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val pid = ProcessHandle.current().pid()
    val build = Paths.get(a.buildDir).toAbsolutePath.toString
    // scratch lives under the JVM's temp dir, which the launcher gives each
    // run and removes afterwards, also when it has to kill the run
    val scratch = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath.toString
    val work = s"$scratch/work"
    val localDir = s"$scratch/spark"
    val out = new Outcome
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(a.seed, a.tiny, work, Paths.get(a.catalog).toAbsolutePath.toString, cores, a.fault, out)
    val w: Workload = a.workload match {
      case "tier_store" => new TierStoreWorkload(ctx)
      case "queries" => new QueriesWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    Trace.runId = s"${a.workload}-s${a.seed}-$pid"
    try {
      var spark = session(cores, localDir)
      ctx.log("session started")
      w.generate(spark)
      ctx.log("inputs generated")
      // set-up, several times: a fresh session plus the workload's own
      // preparation and warm-up; the first session (which generated the
      // inputs) is not counted
      val setups = (1 to SetupRounds).flatMap { round =>
        spark.stop()
        val t0 = System.nanoTime()
        spark = session(cores, localDir)
        out.attempt(s"setup $round")(w.setup(spark, round)).map(_ => (System.nanoTime() - t0) / 1e9)
      }
      val tracer = if (a.trace) new Tracer(spark) else null
      ctx.log("set up")
      w.run(spark, a.trace, tracer)
      ctx.log("measured")
      spark.stop()

      val median = Layers.median _
      val e2e = Seq(
        "setup_s" -> ("s", median(setups)),
        "main_s" -> ("s", median(out.main.toSeq)),
        "op_mean_s" -> ("s", if (out.ops.isEmpty) 0.0 else out.ops.sum / out.ops.size))
      val record = Seq(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "scale" -> (if (a.tiny) "tiny" else "full"), "fault" -> a.fault,
        "nproc" -> cores, "driver_heap_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark" -> org.apache.spark.SPARK_VERSION, "jdk" -> System.getProperty("java.version"),
        "inputs" -> out.inputs.toMap, "setup_samples" -> setups, "main_samples" -> out.main.toSeq,
        "op_samples" -> out.ops.toSeq, "failures" -> out.failures.toSeq)
      val report = json.writeValueAsString(ListMap(
        "report" -> ListMap(e2e.map { case (k, (_, v)) => k -> (v: Any) } ++ out.report.toSeq: _*),
        "layers" -> out.layers,
        "run" -> ListMap(record: _*)))
      val runs = Paths.get(build, "runs")
      Files.createDirectories(runs)
      val stem = s"${Trace.runId}-${System.currentTimeMillis()}"
      Files.write(runs.resolve(s"$stem.json"), report.getBytes(StandardCharsets.UTF_8))
      if (a.trace) Trace.writeJsonLines(runs.resolve(s"$stem.spans.jsonl").toString)

      val chosen: Seq[(String, (String, Double))] =
        if (a.trace) PerLayer.names.map { case (k, unit) => k -> (unit, out.layers.getOrElse(k, Double.NaN)) }
        else e2e
      val missing = chosen.filter(_._2._2.isNaN).map(_._1)
      if (missing.nonEmpty) out.failures += s"metrics not measured: ${missing.mkString(", ")}"
      val correct = out.failed == 0 && missing.isEmpty
      println(report)
      println(json.writeValueAsString(ListMap(
        "correct" -> correct,
        "attempted" -> math.max(out.attempted, 1),
        "failed" -> out.failed,
        "metrics" -> ListMap(chosen.map { case (k, (unit, v)) =>
          k -> ListMap("value" -> (if (v.isNaN) 0.0 else v), "unit" -> unit)
        }: _*))))
    } finally {
      Fs.deleteTreeQuietly(work)
      Fs.deleteTreeQuietly(localDir)
    }
  }
}

/** The per-layer metrics every traced run reports, with units. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "trace.overhead_ratio" -> "ratio",
    "sources.scan_bytes" -> "bytes",
    "sources.files_read" -> "count",
    "sources.rows_read" -> "count",
    "operators.agg_build_s" -> "s",
    "operators.agg_spill_bytes" -> "bytes",
    "exchange.shuffle_write_bytes" -> "bytes",
    "exchange.shuffle_records" -> "count",
    "exchange.shuffle_write_s" -> "s",
    "exec.run_s" -> "s",
    "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.peak_mem_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.task_skew" -> "ratio",
    "driver.jobs" -> "count",
    "driver.job_busy_s" -> "s",
    "driver.outside_jobs_s" -> "s")
}
