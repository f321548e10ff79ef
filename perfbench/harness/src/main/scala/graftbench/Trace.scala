package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters that the Spark listeners add to from the listener-bus
  * thread and the harness reads at pass boundaries.
  */
final class Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit =
    if (v != 0) m.computeIfAbsent(k, _ => new LongAdder).add(v)
  def snapshot(): Map[String, Long] =
    m.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Scheduler, executor, scan and sink counters, read from task ends. */
final class LayerListener(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("scheduler.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("scheduler.tasks", 1)
    val t = e.taskMetrics
    if (t != null) {
      c.add("executor.run_ms", t.executorRunTime)
      c.add("executor.cpu_ns", t.executorCpuTime)
      c.add("executor.gc_ms", t.jvmGCTime)
      c.add("shuffle.write_bytes", t.shuffleWriteMetrics.bytesWritten)
      c.add("shuffle.read_bytes", t.shuffleReadMetrics.totalBytesRead)
      c.add("shuffle.fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
      c.add("executor.spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
      c.add("scan.bytes_read", t.inputMetrics.bytesRead)
      c.add("scan.rows_read", t.inputMetrics.recordsRead)
      c.add("sink.bytes_written", t.outputMetrics.bytesWritten)
      c.add("sink.rows_written", t.outputMetrics.recordsWritten)
    }
  }
}

/** Catalyst phase times of every executed query, from its tracker. */
final class PhaseListener(c: Counters) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(phase: String): Long = p.get(phase).map(_.durationMs).getOrElse(0L)
    c.add("catalyst.analysis_ms", ms(QueryPlanningTracker.ANALYSIS))
    c.add("catalyst.optimizer_ms", ms(QueryPlanningTracker.OPTIMIZATION))
    c.add("catalyst.planning_ms", ms(QueryPlanningTracker.PLANNING))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** The traced run's spans and counters. With tracing off, [[span]] only
  * runs its body and no listener is registered, so the untraced run
  * measures the program alone.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** The pass (or request block) that new spans belong to; -1 is setup. */
  var pass: Int = -1

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new LayerListener(counters))
    spark.listenerManager.register(new PhaseListener(counters))
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
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
        spans += Span(id, parent, name, pass, t0, t1)
      }
    }

  /** Adds a count at the current boundary (kept with the counters). */
  def count(name: String, v: Long): Unit = if (on) counters.add(name, v)

  /** Milliseconds spent in spans called `name` during pass `p`. */
  def spanMs(p: Int, name: String): Double =
    spans.iterator.filter(s => s.pass == p && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).sum

  /** Counters plus JVM GC and JIT time, after the listener bus is
    * drained; diff two of these to get one pass's share.
    */
  def snapshot(spark: SparkSession): Map[String, Double] =
    if (!on) Map.empty
    else {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum
      val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      counters.snapshot().map { case (k, v) => k -> v.toDouble } ++
        Map("jvm.gc_ms" -> gc.toDouble, "jvm.jit_ms" -> jit.toDouble)
    }

  /** Every span as JSON (name, pass, start/end relative to the first
    * span, parent, and self time: duration minus time covered by its
    * direct children).
    */
  def json(): String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.sortBy(_.id).map { s =>
      val dur = s.endNs - s.startNs
      val self = dur - childNs.getOrElse(s.id, 0L)
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","pass":${s.pass},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, pass: Int,
      startNs: Long, endNs: Long)
}
