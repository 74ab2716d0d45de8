package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run reads from Spark's listener bus. `busyMs` is the
  * wall time during which at least one job was running. */
final class Counters extends SparkListener with QueryExecutionListener {
  val names: Seq[String] = Seq(
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_write_records", "spill_bytes", "gc_ms", "task_cpu_ns", "task_run_ms",
    "output_bytes", "output_records", "busy_ms", "analysis_ms", "optimization_ms",
    "planning_ms")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  private var running = 0
  private var openedAt = 0L

  def add(name: String, v: Long): Unit = c(name).addAndGet(v): Unit
  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    if (running == 0) openedAt = e.time
    running += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    running -= 1
    if (running == 0) add("busy_ms", e.time - openedAt)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ms", m.jvmGCTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("task_run_ms", m.executorRunTime)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_records", m.outputMetrics.recordsWritten)
    }
  }

  /** Planning phases of a query execution (Dataset actions and commands
    * report here; the harness adds the final plan of each query itself). */
  def addPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    add("analysis_ms", ms("analysis"))
    add("optimization_ms", ms("optimization"))
    add("planning_ms", ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPhases(qe)
}

/** One timed span: name, parent, start and end (ns since the run's origin)
  * and, in a traced run, the listener counters it covered. */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long,
                      counters: Map[String, Long])

/** Spans around the harness's calls into each layer. Untraced, a span is a
  * bare wall-clock measurement; traced, it also drains the listener bus at
  * both ends and records the counter deltas. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val counters: Option[Counters] =
    if (!traced) None
    else {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1

  def drain(): Unit = if (traced) BenchBus.drain(spark.sparkContext)

  /** Runs body as span `name`; returns its result and the span's index. */
  def span[T](name: String)(body: => T): (T, Int) = {
    drain()
    val before = counters.map(_.snapshot()).getOrElse(Map.empty)
    val parent = current
    val idx = spans.length
    spans += Span(name, parent, 0L, 0L, Map.empty)
    current = idx
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, idx)
    } finally {
      val t1 = System.nanoTime()
      current = parent
      drain()
      val delta = counters.map { c =>
        val after = c.snapshot()
        after.map { case (k, v) => k -> (v - before(k)) }
      }.getOrElse(Map.empty)
      spans(idx) = Span(name, parent, t0 - origin, t1 - origin, delta)
    }
  }

  def wallS(idx: Int): Double = (spans(idx).endNs - spans(idx).startNs) / 1e9
}
