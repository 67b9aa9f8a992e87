package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Process-wide Spark counters fed by a listener registered once per
  * session. Spans snapshot them at start and end, so each span carries
  * the counter deltas of the work it wrapped.
  */
class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskMs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Vector[Long] = Vector(jobs, stages, tasks, taskMs, gcMs,
    shuffleRead, shuffleWrite, spill).map(_.get)
}

object SparkCounters {
  val names: Vector[String] = Vector("jobs", "stages", "tasks", "task_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
}

/** One traced interval: a layer call the benchmark wrapped. */
final case class Span(id: Int, parent: Int, name: String, iteration: Int,
    startNs: Long, endNs: Long, counters: Vector[Long]) {
  def counter(name: String): Long = counters(SparkCounters.names.indexOf(name))
}

/** In-memory span recorder. Disabled, [[span]] only runs the body, so the
  * untraced timings carry no tracing cost. Spans are kept in memory and
  * written once, at the end of the run.
  */
final class Tracer(spark: SparkSession, counters: SparkCounters,
    val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 0
  var iteration = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      nextId += 1
      val id = nextId
      val parent = stack.head
      val c0 = counters.snapshot()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        val c1 = counters.snapshot()
        stack = stack.tail
        spans += Span(id, parent, name, iteration, t0, t1,
          c1.zip(c0).map { case (a, b) => a - b })
      }
    }

  /** Record an interval timed elsewhere (e.g. on a worker thread) as a
    * child of the current span, without counters.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      nextId += 1
      spans += Span(nextId, stack.head, name, iteration, startNs, endNs,
        Vector.fill(SparkCounters.names.size)(0L))
    }

  private def drain(): Unit =
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)

  def all: Seq[Span] = spans.toSeq

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def writeJsonLines(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val cs = SparkCounters.names.zip(s.counters)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      out.println(s"""{"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","iteration":${s.iteration},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${selfSeconds(s)}%.6f,$cs}""")
    } finally out.close()
  }
}
