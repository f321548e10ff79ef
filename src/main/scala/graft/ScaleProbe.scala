package graft

import org.apache.spark.sql.SparkSession

/** Dev probes for the splits a declared query cannot express. The cost
  * of any declared query comes from Bench instead:
  * `SPARK_GRAFT_ONLY=<q> SPARK_GRAFT_SF_DIR=<dir> runMain graft.Bench`
  * writes its `Ledger` cost vector to `bench_out.json` `stats.<q>`.
  *
  * `runMain graft.ScaleProbe <sfDir> <mode>`, where mode is
  *  - `graph`: the GraphBuild phases (scaling, KMeans training, label
  *    assignment, Ward + rebalance) and the `centers_hash` fingerprint
  *    of the trained centroids;
  *  - `stream`: every streaming twin's per-micro-batch `durationMs`
  *    phases;
  *  - `<bits,bits,...>`: the multi-probe embedding near-dup pair
  *    generator at each sign-LSH bit width, wall seconds and pair
  *    counts. Growing the bucket count with the corpus (constant
  *    occupancy) keeps candidate work linear, where a FIXED bucket
  *    count is quadratic (n²/2^bits candidate pairs).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.build()
    println(args(1) match {
      case "graph" => graphProbe(spark, dir)
      case "stream" => streamProbe(spark, dir)
      case widths => bitsProbe(spark, dir, widths)
    })
    spark.stop()
  }

  private def bitsProbe(spark: SparkSession, dir: String, arg: String): String =
    arg.split(",").map(_.trim.toInt).map { b =>
      // cold per width: drop the memoized bucket table
      graft.Scratch.releaseAll()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val pairs = graft.queries.DedupQueries.embedPairsMp(spark, dir, b).count()
      val dt = (System.nanoTime() - t0) / 1e9
      f"""{"bits":$b,"pairs":$pairs,"sec":$dt%.3f}"""
    }.mkString("[", ",", "]")

  /** Phase decomposition of the O-51..O-53 graph build (SCALE.md r10):
    * where does q_graph_build's wall go once the sampled quantizer is
    * in — scaling stats, KMeans train+assign, the driver-side Ward, or
    * the final joins? Replays [[GraphBuild.build]]'s exact steps with a
    * materialization barrier between phases.
    */
  private def graphProbe(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    import graft.operators.clustering.{GraphBuild, TreeOps, Ward}
    val emb = graft.Tables.embeddings(spark, dir)
    var t0 = System.nanoTime()
    val input = emb.persist(); input.count()
    val scaled = input.select(col("vec_id"),
      GraphBuild.scaleFeatures(input, "embedding").as("scaled")).persist()
    scaled.count()
    val scaleS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val (labels, centers) = GraphBuild.microCluster(scaled, "vec_id", "scaled")
    val trainS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val sizes = labels.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val assignS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val tree = TreeOps.rebalance(
      TreeOps.fromDendro(Ward.linkage(centers), sizes), maxDepth = 5, maxFanout = 8)
    val rows = TreeOps.flatten(tree)._1
    val wardS = (System.nanoTime() - t0) / 1e9
    // fingerprint of the centroid doubles: equal across core counts and
    // partitionings when the fit is deterministic
    val centersHash = java.util.Arrays.deepHashCode(centers.asInstanceOf[Array[AnyRef]])
    f"""{"n":${sizes.values.sum},"k":${centers.length},"nodes":${rows.size},"scale_sec":$scaleS%.3f,"kmeans_sec":$trainS%.3f,"assign_sec":$assignS%.3f,"ward_sec":$wardS%.3f,"centers_hash":"$centersHash%08x"}"""
  }

  /** Streaming micro-batch floor attribution (r19 — VERDICT r18 #4):
    * runs each streaming twin once and dumps every micro-batch's
    * `StreamingQueryProgress.durationMs` phases (queryPlanning,
    * getBatch/latestOffset, addBatch, walCommit, commitOffsets,
    * triggerExecution) via a listener, so "the state-store commit
    * floor" stops being an assertion and becomes a number per phase.
    */
  private def streamProbe(spark: SparkSession, dir: String): String = {
    import scala.jdk.CollectionConverters._
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        lines.synchronized {
          lines += s"""{"q":"${p.name}","batch":${p.batchId},"rows":${p.numInputRows},$d}"""
        }
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // warm the build memos the artifact-dependent twins read
    // (q_stream_ann_serve serves the IVF index): without this the
    // twin's first micro-batch pays the cold build inside addBatch and
    // the published floor attribution misstates the SERVING cost —
    // the same reason Bench orders dependent twins after the builds
    graft.queries.VectorQueries.ivfIndex(spark, dir)
    spark.streams.addListener(listener)
    try {
      val twins = graft.SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
      val walls = twins.map { name =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
        name -> (System.nanoTime() - t0) / 1e9
      }
      // progress events reach the listener through the listener bus
      org.apache.spark.LedgerBus.drain(spark.sparkContext)
      val wallsJson = walls.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",")
      s"""{"walls":{$wallsJson},"batches":[${lines.mkString(",")}]}"""
    } finally spark.streams.removeListener(listener)
  }
}
