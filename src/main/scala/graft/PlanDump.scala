package graft

/** Dev tool (r18): dump `.explain("formatted")` for named queries to
  * files — the plan evidence the optimization rounds commit under
  * `plans/`. Usage: runMain graft.PlanDump <sfDir> <outDir> q1 [q2 ...]
  * Runs on [[GraftSession]] with Bench's tmpdir, so the dumped plan is
  * the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    GraftSession.tmpdirOnTmpfs()
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2)
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val w = new java.io.PrintWriter(
        new java.io.File(outDir, n + ".txt"), "UTF-8")
      try w.write(plan) finally w.close()
      println(s"dumped $n (${plan.length} chars)")
    }
    spark.stop()
  }
}
