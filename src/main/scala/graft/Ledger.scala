package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.LedgerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** What a piece of driver code cost Spark. `Bench` measures every timed
  * rep with it and records the cost of each entry's min rep in
  * `bench_out.json`, so `SPARK_GRAFT_ONLY=<q> runMain graft.Bench` is the
  * probe for any declared query. The counts repeat from run to run where
  * wall time does not, which makes them the regression signal on a noisy
  * box.
  */
object Ledger {

  /** The cost vector. The scheduler and executor counts cover every job
    * the body ran, eager ones (checkpoints, scratch persists) included.
    * `planMs`, `exchanges` and `broadcasts` describe the plan of the frame
    * the body returns, and are 0 when it returns none.
    */
  final case class Cost(jobs: Long, stages: Long, tasks: Long, cpuMs: Long,
      runMs: Long, shuffleRwBytes: Long, spillBytes: Long,
      planMs: Long, exchanges: Int, broadcasts: Int) {
    /** The JSON members without braces, for splicing into an object. */
    def jsonFields: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_ms":$cpuMs,""" +
        s""""run_ms":$runMs,"shuffle_rw_bytes":$shuffleRwBytes,""" +
        s""""spill_bytes":$spillBytes,"plan_ms":$planMs,""" +
        s""""exchanges":$exchanges,"broadcasts":$broadcasts"""
  }

  private final class Counter extends SparkListener {
    val jobs, stages, tasks, cpuNs, runMs, shuffleRw, spill = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        runMs.add(m.executorRunTime)
        shuffleRw.add(m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  // walks into AQE query stages, which a plain tree walk stops at
  private object Plans extends AdaptiveSparkPlanHelper

  /** Runs `body` and returns its result with what it cost. The listener
    * is registered for the body only. The bus is drained before the
    * listener is added, or it would receive events of work that ended
    * before the body, and again before it is removed, also when the body
    * throws. A measure nested in another is counted by both.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Cost) = {
    val sc = spark.sparkContext
    LedgerBus.drain(sc)
    val c = new Counter
    sc.addSparkListener(c)
    val r = try body finally {
      try LedgerBus.drain(sc) finally sc.removeSparkListener(c)
    }
    // Bench drains a frame through queryExecution.toRdd, which fires no
    // QueryExecutionListener, so the plan is read off the frame itself
    val (planMs, exchanges, broadcasts) = r match {
      case ds: Dataset[_] =>
        val qe = ds.queryExecution
        def count(pf: PartialFunction[SparkPlan, Unit]) =
          Plans.collectWithSubqueries(qe.executedPlan)(pf).size
        (qe.tracker.phases.values.map(_.durationMs).sum,
          count { case _: ShuffleExchangeLike => () },
          count { case _: BroadcastExchangeLike => () })
      case _ => (0L, 0, 0)
    }
    (r, Cost(c.jobs.sum, c.stages.sum, c.tasks.sum, c.cpuNs.sum / 1000000,
      c.runMs.sum, c.shuffleRw.sum, c.spill.sum, planMs, exchanges, broadcasts))
  }
}
