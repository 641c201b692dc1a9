package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a public call: `parent` is the enclosing
  * span's id (-1 at the top), `op` the operation it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
      }
    }
}

/** Engine counters summed from listener events while `active`, that is
  * during traced operations only. Job intervals are kept so an
  * operation's time with no job running can be derived. */
final class EngineCounters extends SparkListener {
  @volatile var active = false
  val names = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "result_bytes", "task_run_ms", "task_cpu_ns", "task_gc_ms",
    "input_bytes", "input_rows", "output_bytes")
  private val c = names.map(_ -> new AtomicLong()).toMap
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    add("jobs", 1)
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (active) Option(jobStart.remove(e.jobId)).foreach(t0 => jobIntervals.add((t0, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("result_bytes", m.resultSize)
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("task_gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }

  /** Milliseconds of [t0, t1] covered by at least one job. */
  def jobCoveredMs(t0: Long, t1: Long): Long = {
    import scala.jdk.CollectionConverters._
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

object Engine {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
