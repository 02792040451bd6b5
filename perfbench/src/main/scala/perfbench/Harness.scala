package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.Catalog

/** The engine-side half of the benchmark. `perfbench/run.py` launches it on
  * the exported classpath, once per run:
  *
  *   java ... perfbench.Harness workload=<name> data=<dir>
  *     work=<run dir> cpus=<n> seed=<n> seconds=<n> trace=<0|1>
  *     deadline=<s> ...
  *
  * It prints `PERFBENCH_READY` once the SparkSession and the engine's
  * Catalog (with GraftExtensions) are ready — run.py times set-up up to
  * that line — then runs the workload as a closed loop with one client
  * and writes every operation and sample to `<work>/result.json`. Every
  * operation ends by `deadline` seconds after the JVM started, failed if
  * it had to be cut, so the result is written even when a run is slow.
  */
object Harness {

  /** The longest one operation may run. */
  val OpTimeoutS = 120.0

  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val spark = session(o)
    Catalog(spark, o("data"))
    println("PERFBENCH_READY")
    System.out.flush()
    spark.sparkContext.setCheckpointDir(s"${o("work")}/checkpoint")
    val tracer = if (o.int("trace") == 1) Some(new Tracer(spark)) else None
    val deadlineMs = ManagementFactory.getRuntimeMXBean.getStartTime +
      (o.double("deadline") * 1e3).toLong
    val rec = new Recorder(spark, deadlineMs, tracer)
    val out = mutable.LinkedHashMap[String, Any]()
    val jvm0 = Tracer.jvmCounters()
    val extra: Map[String, Double] = o("workload") match {
      case "analytics-sf0.1" => Workloads.analytics(spark, o, rec, out)
      case "parafac"         => Workloads.parafac(spark, o, rec, out)
      case w                 => sys.error(s"unknown workload $w")
    }
    val jvm1 = Tracer.jvmCounters()
    val jvm = jvm1.map { case (k, v) => k -> (if (k == "jvm.heap_peak_mb") v else v - jvm0(k)) }
    tracer.foreach { t =>
      t.close()
      out("layers") = t.report(rec.ops.toSeq, o.int("cpus"), jvm, extra)
    }
    out("ops") = rec.ops.map { r =>
      Map("id" -> r.id, "kind" -> r.kind, "name" -> r.name, "layer" -> r.layer,
        "pass" -> r.pass, "timed" -> r.timed, "seconds" -> r.seconds,
        "construct_s" -> r.constructS, "execute_s" -> r.executeS,
        "ok" -> r.ok, "error" -> r.error)
    }
    out("vm_hwm_kb") = vmHwmKb()
    Files.writeString(Paths.get(o("work"), "result.json"),
      Serialization.write(out.toMap)(DefaultFormats))
    println("PERFBENCH_DONE")
    System.out.flush()
    // Nothing after the result is measured, and run.py removes the run
    // directory: skip the session's orderly shutdown.
    Runtime.getRuntime.halt(0)
  }

  /** The session every workload runs in: local[nproc], one shuffle
    * partition per core, and every scratch location inside the run's own
    * directory so no two runs share artifacts, warehouse or spill files. */
  def session(o: Opts): SparkSession = {
    val w = o("work")
    val b = SparkSession.builder()
      .master(s"local[${o("cpus")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$w/local")
      .config("spark.sql.warehouse.dir", s"$w/warehouse")
      .config("spark.graft.derivedDir", s"$w/derived")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def vmHwmKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }
}

/** `key=value` command-line options. */
final case class Opts(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing option $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = m.get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
}

object Opts {
  def apply(args: Array[String]): Opts = Opts(args.map { a =>
    val i = a.indexOf('=')
    require(i > 0, s"expected key=value, got $a")
    a.take(i) -> a.drop(i + 1)
  }.toMap)
}
