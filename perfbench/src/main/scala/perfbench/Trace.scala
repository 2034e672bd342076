package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work done during one call, as seen by [[SparkCounters]]. */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long,
                          inputRows: Long, shuffleBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, inputRows - o.inputRows, shuffleBytes - o.shuffleBytes)
}

/** Running totals of every job and task the session has finished. */
final class SparkCounters extends SparkListener {
  private val jobs, tasks, cpuNs, inputRows, shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def snapshot(): Counters = Counters(jobs.get, tasks.get, cpuNs.get,
    inputRows.get, shuffleBytes.get)
}

/** One timed call. Spans of one request share `request`; `parent` is the
  * id of the span whose call wraps this one (-1 for a request's root).
  */
final case class Span(id: Int, request: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, work: Counters) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Times calls and, when tracing, records them as spans with the Spark work
  * each one caused. The load is one closed-loop client, so every job that
  * runs between a span's start and end belongs to that span. Spans stay in
  * memory until [[write]].
  *
  * Calls that the engine makes on its own threads (the HTTP server's
  * handlers) cannot be wrapped from outside; the workloads replay those
  * inner calls with the same inputs right after the outer one and record
  * them as its children, so a parent's self time is its time minus its
  * children's.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters: Option[SparkCounters] =
    if (!enabled) None
    else {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var requests = 0
  /** Spans are recorded only while active (set-up and the traced phase). */
  var active: Boolean = enabled

  /** A fresh request id. */
  def newRequest(): Int = { requests += 1; requests }

  /** Runs `f`; when tracing, records it as a span and returns its id with
    * the result. Without tracing the id is -1.
    */
  def span[A](name: String, request: Int, parent: Int = -1)(f: => A): (A, Int) =
    counters match {
      case Some(c) if active =>
        val before = c.snapshot()
        val t0 = System.nanoTime()
        val out = f
        val t1 = System.nanoTime()
        ListenerDrain(spark.sparkContext)
        val id = spans.length
        spans += Span(id, request, parent, name, t0, t1, c.snapshot() - before)
        (out, id)
      case _ => (f, -1)
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Self time of every span: its time minus the time of its children. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Writes the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"request":${s.request},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${s.work.jobs},"tasks":${s.work.tasks},"cpu_ns":${s.work.cpuNs},""" +
        s""""input_rows":${s.work.inputRows},"shuffle_bytes":${s.work.shuffleBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Order statistics of a sample of latencies. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with 10 samples beyond it, and its value:
    * the tail a sample of this size can estimate.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 11, s"a tail needs 11 samples, got ${xs.length}")
    val s = xs.sorted
    val n = s.length
    (100.0 * (n - 10) / n, s(n - 11))
  }
}
