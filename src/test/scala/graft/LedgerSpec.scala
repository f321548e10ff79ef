package graft

import org.apache.spark.ListenerCount
import org.apache.spark.sql.functions.col

class LedgerSpec extends SparkSpec {

  // a fixed plan with one shuffle: 4 range partitions, a round-robin
  // repartition to 4, then a grouped count
  private def grouped() = spark.range(0, 20000, 1, 4).repartition(4)
    .groupBy((col("id") % 7).as("k")).count()

  private def drained(df: org.apache.spark.sql.DataFrame) = {
    df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
    df
  }

  test("a fixed plan reports the same scheduler counts on every run") {
    val Seq(a, b) = Seq.fill(2)(Ledger.measure(spark)(drained(grouped()))._2)
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks))
    assert(a.exchanges == b.exchanges && a.broadcasts == b.broadcasts)
    assert(a.jobs >= 1 && a.stages >= 2 && a.tasks >= 4, a.toString)
    assert(a.shuffleRwBytes > 0 && a.exchanges >= 1, a.toString)
  }

  test("a body that runs no Spark work costs nothing") {
    val (r, c) = Ledger.measure(spark)(6 * 7)
    assert(r == 42)
    assert(c == Ledger.Cost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
  }

  test("a body that throws still removes its listener") {
    val sc = spark.sparkContext
    val before = ListenerCount.of(sc)
    intercept[IllegalStateException] {
      Ledger.measure(spark) {
        spark.range(100).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(ListenerCount.of(sc) == before)
  }

  test("back-to-back and nested measures do not leak counts into each other") {
    // a slow listener holds the bus, so a finished job's stage and task
    // events are still queued when the next measure starts: only the
    // drain before the body keeps them out of its counts
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Thread.sleep(500)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(slow)
    val (_, idle) = try {
      spark.range(0, 1000, 1, 4).count()
      Ledger.measure(spark)(())
    } finally sc.removeSparkListener(slow)
    assert(idle == Ledger.Cost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    val (_, one) = Ledger.measure(spark)(spark.range(0, 1000, 1, 4).count())
    assert(one.jobs >= 1 && one.tasks >= 4, one.toString)
    val ((_, inner), outer) = Ledger.measure(spark) {
      spark.range(0, 1000, 1, 4).count()
      Ledger.measure(spark)(spark.range(0, 1000, 1, 4).count())
    }
    assert((inner.jobs, inner.stages, inner.tasks) == (one.jobs, one.stages, one.tasks))
    assert((outer.jobs, outer.stages, outer.tasks) ==
      (2 * one.jobs, 2 * one.stages, 2 * one.tasks))
  }
}
