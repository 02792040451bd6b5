package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Attributes time and counts to the engine's layers from outside the
  * program, using only hooks the benchmark registers: a SparkListener
  * (jobs, stages, task metrics), a QueryExecutionListener (planning
  * phases and the executed plan's scan metrics) and the streaming
  * progress the harness reads back from each query.
  *
  * Spans (run, pass, operation, phase, Spark job) stay in memory; each
  * Spark job is parented to the operation whose job group launched it,
  * or, for jobs from other threads (streaming), to the operation running
  * when it started. `report` turns them into per-layer metrics, including
  * each layer's self time: its operations' wall time minus the time a
  * Spark job or a planning phase of its own was running.
  */
final class Tracer(spark: SparkSession) {

  final class JobSpan(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakExecMem = 0L
    var bytesWritten = 0L
  }

  final case class QeSpan(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, files: Long, bytes: Long, rows: Long, scanMs: Long)

  private val jobs = mutable.LinkedHashMap[Int, JobSpan]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val qes = mutable.ArrayBuffer[QeSpan]()
  private val codegen = mutable.HashMap[String, (Long, Long)]()
  private var openCodegen = (0L, 0L)
  // Callbacks arrive on more than one listener-bus thread.
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong
  private var hookNs = 0L

  private def timedCallback(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f catch { case _: Throwable => () }
    finally listenerNs.addAndGet(System.nanoTime() - t)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val span = new JobSpan(e.jobId, group, e.time)
      span.stages = e.stageIds.size
      jobs.synchronized {
        jobs(e.jobId) = span
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback {
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
      val m = e.taskMetrics
      if (m != null) jobs.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scanMetrics(plan: SparkPlan): Seq[Map[String, Long]] =
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.map { case (k, v) => k -> v.value }
      }
  }

  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    val scans = try Plans.scanMetrics(qe.executedPlan) catch { case _: Throwable => Nil }
    def sum(k: String): Long = scans.map(_.getOrElse(k, 0L)).sum
    qes.synchronized {
      qes += QeSpan(start, ms("analysis"), ms("optimization"), ms("planning"),
        sum("numFiles"), sum("filesSize"), sum("numOutputRows"),
        sum("scanTime") + sum("metadataTime"))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedCallback(recordQe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timedCallback(recordQe(qe))
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  private def codegenNow: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def beginOp(id: String): Unit = {
    val t = System.nanoTime()
    openCodegen = codegenNow
    hookNs += System.nanoTime() - t
  }

  def endOp(id: String): Unit = {
    val t = System.nanoTime()
    val (ns, n) = codegenNow
    codegen(id) = (ns - openCodegen._1, n - openCodegen._2)
    hookNs += System.nanoTime() - t
  }

  /** Stop listening and wait until every posted event has been handled. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Union length of [start, end) intervals, in milliseconds. */
  private def coverage(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Per-layer metrics over the timed operations in `ops`. */
  def report(ops: Seq[OpRecord], slots: Int, jvm: Map[String, Double],
      extra: Map[String, Double]): Map[String, Double] = {
    val timed = ops.filter(_.timed)
    val byId = timed.map(o => o.id -> o).toMap
    def owner(startMs: Long, group: String): Option[OpRecord] =
      Option(group).flatMap(byId.get).orElse(
        timed.find(o => startMs >= o.startMs && startMs <= o.endMs))
    val jobList = jobs.synchronized(jobs.values.toList)
    val jobsOf: Map[String, Seq[JobSpan]] = jobList
      .flatMap(j => owner(j.startMs, j.group).map(_.id -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val qesOf: Map[String, Seq[QeSpan]] = qes.synchronized(qes.toList)
      .flatMap(q => owner(q.startMs, null).map(_.id -> q))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def js(o: OpRecord): Seq[JobSpan] = jobsOf.getOrElse(o.id, Nil)
    def qs(o: OpRecord): Seq[QeSpan] = qesOf.getOrElse(o.id, Nil)
    def jobCoverS(o: OpRecord): Double =
      coverage(js(o).map(j => (j.startMs, if (j.endMs < 0) o.endMs else j.endMs))) / 1e3
    def planS(o: OpRecord): Double =
      qs(o).map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum / 1e3 +
        codegen.get(o.id).map(_._1 / 1e9).getOrElse(0.0)
    def selfS(os: Seq[OpRecord]): Double =
      os.map(o => math.max(0.0, o.seconds - jobCoverS(o) - planS(o))).sum
    def allJobs(os: Seq[OpRecord]): Seq[JobSpan] = os.flatMap(js)
    def allQes(os: Seq[OpRecord]): Seq[QeSpan] = os.flatMap(qs)
    def top(o: OpRecord): String = o.layer.takeWhile(_ != '.')

    val m = mutable.LinkedHashMap[String, Double]()
    // sources: file scans, summed over the executed plans
    val q = allQes(timed)
    m("sources.files_read") = q.map(_.files).sum.toDouble
    m("sources.bytes_read") = q.map(_.bytes).sum.toDouble
    m("sources.rows_scanned") = q.map(_.rows).sum.toDouble
    m("sources.scan_s") = q.map(_.scanMs).sum / 1e3
    // plans: Catalyst phases and whole-stage codegen compiles
    m("plans.analysis_s") = q.map(_.analysisMs).sum / 1e3
    m("plans.optimization_s") = q.map(_.optimizationMs).sum / 1e3
    m("plans.planning_s") = q.map(_.planningMs).sum / 1e3
    m("plans.codegen_compile_s") = timed.flatMap(o => codegen.get(o.id)).map(_._1).sum / 1e9
    m("plans.codegen_compiles") = timed.flatMap(o => codegen.get(o.id)).map(_._2).sum.toDouble
    m("plans.self_s") = timed.map(planS).sum
    // operators: scheduling and execution over every timed operation
    val ops1 = timed.filter(top(_) == "operators")
    val jl = allJobs(timed)
    m("operators.construct_s") = timed.map(_.constructS).sum
    m("operators.execute_s") = timed.map(_.executeS).sum
    m("operators.jobs") = jl.size.toDouble
    m("operators.stages") = jl.map(_.stages).sum.toDouble
    m("operators.tasks") = jl.map(_.tasks).sum.toDouble
    val wall = timed.map(_.seconds).sum
    m("operators.slot_busy_frac") =
      if (wall > 0) jl.map(_.runMs).sum / 1e3 / (wall * slots) else 0.0
    m("operators.task_cpu_s") = jl.map(_.cpuNs).sum / 1e9
    m("operators.shuffle_write_bytes") = jl.map(_.shuffleWrite).sum.toDouble
    m("operators.shuffle_read_bytes") = jl.map(_.shuffleRead).sum.toDouble
    m("operators.spill_bytes") = jl.map(_.spill).sum.toDouble
    m("operators.peak_exec_mem_mb") =
      jl.map(_.peakExecMem).foldLeft(0L)(math.max) / (1024.0 * 1024.0)
    m("operators.self_s") = selfS(ops1)
    ops1.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, os) =>
      m(s"$layer.s") = os.map(_.seconds).sum
    }
    // Derived: the five artifact rebuilds
    val builds = timed.filter(top(_) == "Derived")
    builds.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, os) =>
      m(s"${layer}_s") = os.map(_.seconds).sum
    }
    m("Derived.bytes_written") = allJobs(builds).map(_.bytesWritten).sum.toDouble
    m("Derived.self_s") = selfS(builds)
    // tensor: decompositions, per tensor
    val tensor = timed.filter(top(_) == "tensor")
    tensor.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, os) =>
      m(s"${layer}_s") = os.map(_.seconds).sum
    }
    // Per tensor, over its iterative fits (CP-ALS, NN-HALS): whether Spark
    // jobs (job_busy_frac) and the executors' slots (slot_busy_frac) fill
    // the fit time, or driver-side work and job launch do.
    val iters = extra.getOrElse("tensor.iterations", 0.0)
    val iterOps = tensor.filter(o => o.layer.endsWith("cp_fit") || o.layer.endsWith("hals_fit"))
    iterOps.groupBy(_.name.takeWhile(_ != '-')).toSeq.sortBy(_._1).foreach { case (t, os) =>
      val w = os.map(_.seconds).sum
      m(s"tensor.$t.job_busy_frac") = if (w > 0) os.map(jobCoverS).sum / w else 0.0
      m(s"tensor.$t.slot_busy_frac") =
        if (w > 0) allJobs(os).map(_.runMs).sum / 1e3 / (w * slots) else 0.0
      m(s"tensor.$t.task_cpu_s") = allJobs(os).map(_.cpuNs).sum / 1e9
    }
    m("tensor.jobs_per_iter") = if (iters > 0) allJobs(iterOps).size / iters else 0.0
    m("tensor.task_cpu_s") = allJobs(tensor).map(_.cpuNs).sum / 1e9
    m("tensor.pack_shuffle_bytes") = allJobs(tensor).map(_.shuffleWrite).sum.toDouble
    m("tensor.self_s") = selfS(tensor)
    // streaming: micro-batch phases come from the queries' progress
    val stream = timed.filter(top(_) == "streaming")
    m("streaming.self_s") = selfS(stream)
    m ++= extra.filter(_._1.startsWith("streaming."))
    m ++= jvm
    m("trace.listener_s") = listenerNs.get / 1e9
    m("trace.hook_s") = hookNs / 1e9
    m.toMap
  }
}

object Tracer {
  /** JVM-wide counters: GC pauses, JIT compile time and heap high-water. */
  def jvmCounters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map(
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).filter(_ > 0).sum / 1e3,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount).filter(_ > 0).sum.toDouble,
      "jvm.heap_peak_mb" -> heapPeak / (1024.0 * 1024.0),
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }
}
