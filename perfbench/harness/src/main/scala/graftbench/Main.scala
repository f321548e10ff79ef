package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, then run whole passes of the
  * chosen workload for at least `--seconds`, then write `result.json`
  * (and `trace.json` when traced) into `--out` for `perfbench/run.py`
  * to check and report.
  *
  * args: --workload W --data DIR --out DIR --seconds S --seed N
  *       --trace 0|1 --warm K --min-passes M --oracle 0|1
  *       [--warm-data DIR,DIR...] [--graph-data DIR]
  *
  * `--oracle 1` also runs `e1_batch`'s two declared queries after the
  * timed passes for the twin check. `--warm-data` lists the tables of
  * each warm pass in turn (default `--data`). `--graph-data` then runs
  * [[GraphIndex]]'s chain once over those tables, traced, so that the
  * graph and index layers are measured in the same run.
  */
object Main {

  /** One workload: untimed set-up (including its warm passes), timed
    * passes, and what the checker needs afterwards.
    */
  trait Workload {
    /** Operations one pass attempts; a pass is a whole round of them. */
    def opsPerPass: Int
    def setup(warm: Int): Unit
    /** Runs pass `p`; returns the number of operations that failed. */
    def pass(p: Int): Int
    /** Untimed work after the timed passes (oracle-checked outputs). */
    def finish(): Unit = ()
    /** Workload-specific result fields (JSON members, no braces). */
    def resultJson: String
    /** Per-layer metrics of one pass that spans or latencies give. */
    def passLayers(p: Int): Map[String, Double]
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val dataDir = a("data")
    val outDir = a("out")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val warm = a("warm").toInt
    val minPasses = a("min-passes").toInt
    val oracle = a("oracle") == "1"
    val warmData = a.getOrElse("warm-data", dataDir).split(",").toSeq
    val graphData = a.get("graph-data")
    Files.createDirectories(Paths.get(outDir))

    val rt = ManagementFactory.getRuntimeMXBean
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${rt.getUptime / 1000.0}%.2f s: $what")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, s"$outDir/local")
    mark("session started")
    val trace = new Trace(traced)
    trace.install(spark)

    val w: Workload = workloadName match {
      case "e1_batch" => new E1Batch(spark, dataDir, warmData, outDir, trace, oracle)
      case "serve_explore" => new ServeExplore(spark, dataDir, outDir, trace, seed)
      case "graph_index" => new GraphIndex(spark, dataDir, outDir, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    mark("workload ready")
    w.setup(warm)
    val setupS = rt.getUptime / 1000.0
    mark("set-up done")

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passS = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var failed = 0
    val t0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      trace.pass = p
      val before = trace.snapshot(spark)
      val c0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      failed += w.pass(p)
      val w1 = System.nanoTime()
      val c1 = os.getProcessCpuTime
      val after = trace.snapshot(spark)
      passS += (w1 - w0) / 1e9
      cpuS += (c1 - c0) / 1e9
      // per operation: a request for serve_explore, a pass otherwise
      val diff = after.map { case (k, v) =>
        k -> (v - before.getOrElse(k, 0.0)) / w.opsPerPass }
      layers += diff ++ w.passLayers(p)
      p += 1
    }
    trace.pass = -2
    w.finish()
    mark("timed passes done")
    val chain = graphData.map { d =>
      trace.pass = GraphIndex.ChainPass
      val g = new GraphIndex(spark, d, outDir, trace)
      g.runChain(s"$outDir/graph/chain")
      mark("graph and index chain done")
      g
    }

    // live heap: what the program still holds after a full collection
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val layerKeys = layers.flatMap(_.keys).distinct.sorted
    val layerMed = layerKeys.map { k =>
      val v = med(layers.map(_.getOrElse(k, 0.0)).toSeq)
      // executor CPU arrives in ns; report ms like the other timers
      if (k == "executor.cpu_ns") "executor.cpu_ms" -> v / 1e6 else k -> v
    } ++ chain.toSeq.flatMap(_.layers(GraphIndex.ChainPass))
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else f"$d%.6f"
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val json =
      s"""{"workload": "$workloadName", "traced": $traced, "passes": ${passS.size},
         |"attempted": ${passS.size * w.opsPerPass}, "failed": $failed,
         |"setup_s": ${num(setupS)}, "heap_live_mb": ${num(heapMb)},
         |"pass_s": ${passS.map(num).mkString("[", ", ", "]")},
         |"cpu_s": ${cpuS.map(num).mkString("[", ", ", "]")},
         |"layers": ${obj(layerMed.toSeq)},
         |"graph_chain": ${chain.map(_.oracleJson(s"$outDir/graph/chain")).getOrElse("null")},
         |${w.resultJson}}
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/result.json"), json)
    if (traced) Files.writeString(Paths.get(s"$outDir/trace.json"), trace.json())
    spark.stop()
  }

  /** The engine's bench session settings (see graft.Bench), with the
    * spill directory inside this run's own directory.
    */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
