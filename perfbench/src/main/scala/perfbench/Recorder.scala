package perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One operation as the client saw it: a query, an artifact build, a
  * decomposition or a streaming pipeline. Times are System.nanoTime
  * (durations) plus wall-clock milliseconds (to line up with Spark
  * listener events, which carry epoch milliseconds). */
final case class OpRecord(
    id: String,
    kind: String,
    name: String,
    layer: String,
    pass: Int,
    timed: Boolean,
    startMs: Long,
    endMs: Long,
    seconds: Double,
    constructS: Double,
    executeS: Double,
    ok: Boolean,
    error: String)

/** Runs operations one at a time (a closed loop with one client), each on
  * a worker thread under its own Spark job group so a timeout can cancel
  * its jobs. Each operation may take `Harness.OpTimeoutS`, but never past
  * `deadlineMs`, so a slow run still ends with its result written. A
  * throw or a timeout is recorded as a failed operation; it is never
  * dropped. */
final class Recorder(spark: SparkSession, deadlineMs: Long, tracer: Option[Tracer]) {
  val ops = ArrayBuffer[OpRecord]()
  private var seq = 0
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-op")
      t.setDaemon(true)
      t
    }
  })

  /** Construct and execute phases of one operation. */
  final class Phases {
    var constructNs = 0L
    var executeNs = 0L
    def construct[A](f: => A): A = { val t = System.nanoTime(); try f finally constructNs += System.nanoTime() - t }
    def execute[A](f: => A): A = { val t = System.nanoTime(); try f finally executeNs += System.nanoTime() - t }
  }

  def run[T](kind: String, name: String, layer: String, pass: Int, timed: Boolean)
      (body: Phases => T): Option[T] = {
    seq += 1
    val id = s"perfbench-op-$seq"
    val ph = new Phases
    val sc = spark.sparkContext
    tracer.foreach(_.beginOp(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val timeoutMs = math.max(0L, math.min((Harness.OpTimeoutS * 1e3).toLong, deadlineMs - startMs))
    val (result, error) =
      if (timeoutMs == 0L) (None, "timeout: the run's deadline has passed")
      else {
        val fut = pool.submit(new Callable[T] {
          def call(): T = {
            sc.setJobGroup(id, s"$kind $name", interruptOnCancel = true)
            try body(ph) finally sc.clearJobGroup()
          }
        })
        try (Some(fut.get(timeoutMs, TimeUnit.MILLISECONDS)), "")
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(id)
            fut.cancel(true)
            (None, s"timeout after ${timeoutMs / 1e3} s")
          case e: ExecutionException =>
            val c = Option(e.getCause).getOrElse(e)
            (None, s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}")
        }
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    tracer.foreach(_.endOp(id))
    ops += OpRecord(id, kind, name, layer, pass, timed, startMs, endMs, seconds,
      ph.constructNs / 1e9, ph.executeNs / 1e9, error.isEmpty, error)
    result
  }

  def pastDeadline: Boolean = System.currentTimeMillis() >= deadlineMs

  /** Record an operation whose outcome is known without running it here
    * (a wrong result found by a check after the fact). */
  def markWrong(id: String, why: String): Unit = {
    val i = ops.indexWhere(_.id == id)
    if (i >= 0 && ops(i).ok) ops(i) = ops(i).copy(ok = false, error = s"wrong result: $why")
  }
}
