package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program. Off by default:
  * `span` is then a plain call. When on, spans are kept in memory and
  * written once, at the end of the run. */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, startMs: Long, startNs: Long, endNs: Long, runId: String) {
    def seconds: Double = (endNs - startNs) / 1e9
    def endMs: Long = startMs + (endNs - startNs) / 1000000L
  }

  @volatile var enabled = false
  @volatile var runId = ""
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        buf.add(Span(id, outer.headOption.getOrElse(0), name, ms, t0, System.nanoTime(), runId))
        stack.set(outer)
      }
    }

  def spans: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def writeJsonLines(path: String): Unit = {
    val lines = spans.map(s => Main.json.writeValueAsString(scala.collection.immutable.ListMap(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Plan walks that descend into adaptive query stages. */
private object Plans extends AdaptiveSparkPlanHelper

/** Job, stage and task numbers from the listener bus. Every callback runs
  * on the bus thread; readers drain the bus first (PerfbenchBus). */
final class JobCollector extends SparkListener {

  final class JobRec(val id: Int, val startMs: Long, val execId: Long) { var endMs: Long = -1L }

  final class StageAgg {
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, peakMem, spillBytes = 0L
    var shWriteBytes, shWriteRecords, shWriteNs, fetchWaitMs, inputRecords = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  /** SQL execution id → output path of the file write it ran. */
  val writePaths = mutable.Map.empty[Long, String]

  def reset(): Unit = synchronized { jobs.clear(); stages.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.durationsMs += e.taskInfo.duration
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.spillBytes += m.diskBytesSpilled
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shWriteNs += m.shuffleWriteMetrics.writeTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchSql.queryExecution(end).foreach(qe => Plans.foreach(qe.executedPlan) {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => synchronized(writePaths(end.executionId) = i.outputPath.toString)
          case _ =>
        }
        case _ =>
      })
    case _ =>
  }

  def finishedJobs: Seq[JobRec] = synchronized { jobs.values.filter(_.endMs >= 0).toSeq }
}

/** Operator metrics of every finished query, read from its executed plan
  * (scan, aggregate and file-write nodes, including adaptive stages). */
final class OpCollector extends QueryExecutionListener with AdaptiveSparkPlanHelper {

  final case class Scan(root: String, files: Long, bytes: Long)
  final case class Agg(aggMs: Long, spillBytes: Long)
  final case class Write(path: String, files: Long, bytes: Long, rows: Long)
  final case class Exec(scans: Seq[Scan], aggs: Seq[Agg], writes: Seq[Write])

  private val q = new ConcurrentLinkedQueue[Exec]()

  def reset(): Unit = q.clear()
  def execs: Seq[Exec] = q.asScala.toSeq

  private def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = mutable.ArrayBuffer.empty[Scan]
    val aggs = mutable.ArrayBuffer.empty[Agg]
    val writes = mutable.ArrayBuffer.empty[Write]
    foreach(qe.executedPlan) {
      case s: FileSourceScanExec =>
        scans += Scan(s.relation.location.rootPaths.headOption.map(_.toString).getOrElse(""),
          metric(s, "numFiles"), metric(s, "filesSize"))
      case a: BaseAggregateExec =>
        aggs += Agg(metric(a, "aggTime"), metric(a, "spillSize"))
      case w: DataWritingCommandExec =>
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        def cm(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        writes += Write(path, cm("numFiles"), cm("numOutputBytes"), cm("numOutputRows"))
      case _ =>
    }
    q.add(Exec(scans.toSeq, aggs.toSeq, writes.toSeq))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-layer numbers for one traced window, from both collectors. */
object Layers {

  /** Length of the union of [start, end) intervals, in seconds. */
  def busySeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Executor, exchange, driver, source-scan and aggregate metrics over
    * `wallS` seconds of traced work. */
  def generic(jc: JobCollector, oc: OpCollector, wallS: Double): Map[String, Double] = jc.synchronized {
    val st = jc.stages.values.toSeq
    val widest = st.filter(_.durationsMs.nonEmpty).sortBy(s => (s.durationsMs.size, s.durationsMs.sum)).lastOption
    val skew = widest.map { s =>
      val med = median(s.durationsMs.map(_.toDouble).toSeq)
      if (med > 0) s.durationsMs.max / med else 1.0
    }.getOrElse(1.0)
    val jobs = jc.finishedJobs
    val busy = busySeconds(jobs.map(j => (j.startMs, j.endMs)))
    val execs = oc.execs
    Map(
      "exchange.shuffle_write_bytes" -> st.map(_.shWriteBytes).sum.toDouble,
      "exchange.shuffle_records" -> st.map(_.shWriteRecords).sum.toDouble,
      "exchange.shuffle_write_s" -> st.map(_.shWriteNs).sum / 1e9,
      "exchange.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "exec.run_s" -> st.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "exec.peak_mem_bytes" -> (if (st.isEmpty) 0.0 else st.map(_.peakMem).max.toDouble),
      "exec.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "exec.task_skew" -> skew,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.job_busy_s" -> busy,
      "driver.outside_jobs_s" -> math.max(0.0, wallS - busy),
      "sources.scan_bytes" -> execs.flatMap(_.scans).map(_.bytes).sum.toDouble,
      "sources.files_read" -> execs.flatMap(_.scans).map(_.files).sum.toDouble,
      "sources.rows_read" -> st.map(_.inputRecords).sum.toDouble,
      "operators.agg_build_s" -> execs.flatMap(_.aggs).map(_.aggMs).sum / 1e3,
      "operators.agg_spill_bytes" -> execs.flatMap(_.aggs).map(_.spillBytes).sum.toDouble)
  }
}
