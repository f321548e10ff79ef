package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, PlanDump,
  * ScaleProbe and the test suites all take it from here, so the
  * correctness gate, the plan dumps, the probes and the tests run the
  * physical plans the bench times.
  */
object GraftSession {

  private val shm = new java.io.File("/dev/shm")

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def build(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // kept for TIMESTAMP(NANOS)-era testdata (Spark rejects it by
      // default; this reads it as a ns LONG). MICROS data bypasses the
      // conf entirely — Tables.normalizeEventTs adapts either layout to
      // the engine-wide ns-LONG convention.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static conf, default 100 generated classes: a 120-query sweep
      // evicts everything between a query's interleaved reps, making
      // every rep pay whole-stage recompilation; size it to the sweep
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // AQE coalescing with the DEFAULT parallelismFirst=true refuses to
      // coalesce below defaultParallelism — so every sub-MB shuffle in
      // the ~80 small queries still runs 32 reduce tasks of <1 KB each,
      // pure scheduler floor (VERDICT r8 #1a). false = size-based: KB
      // shuffles collapse to 1 task. The advisory is sized to the BENCH
      // (1 MB): with the cluster default of 64 MB the few MB-scale
      // CPU-bound shuffles here (q_act_features windows) collapse to
      // one core too — measured 0.58 s → 2.1 s. 1 MB keeps those at
      // data/1 MB ≈ 4-30 tasks while the KB floor still collapses; a
      // real cluster keeps the 64 MB default, where its stages are
      // GB-scale and never hit this boundary.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      // Scratch space (shuffle spill files, state-store working dirs) on
      // tmpfs when available: the per-micro-batch state-store commit
      // floor is fsync-bound, not data-bound. Static conf — must be set
      // before the context exists.
      .config("spark.local.dir",
        if (shm.isDirectory) "/dev/shm/graft_local" else sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Point java.io.tmpdir at tmpfs when available. Scratch sinks (the
    * roundtrip queries' write targets, Derby, the events time-split)
    * resolve it at call time, so the I/O queries measure the engine, not
    * the disk. Bench and PlanDump only: Verify's oracle SQL embeds export
    * paths under the default tmpdir.
    */
  def tmpdirOnTmpfs(): Unit = if (shm.isDirectory) {
    val t = new java.io.File(shm, "graft_tmp")
    t.mkdirs()
    sys.props("java.io.tmpdir") = t.getAbsolutePath
  }
}
