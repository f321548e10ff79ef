package graftbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `graph_index`: cold passes through SparkEntry over a Pregel/GraphX
  * entry and the durable-index chain, in dependency order: the PageRank
  * edge build and its Pregel loop, the IVF, BM25 and PQ index builds
  * and the BM25 upsert, then the index store's save, append and
  * compaction, and a read of the compacted store. Builds are
  * materialized with the no-op sink; the declared queries are written
  * as parquet so their twins can check the last pass.
  */
final class GraphIndex(spark: SparkSession, data: String, out: String, trace: Trace)
    extends Main.Workload {

  /** (layer span, entry) in the order a pass runs them. */
  val Chain: Seq[(String, String)] = Seq(
    "graph.pregel" -> "build_pagerank_edges",
    "graph.pregel" -> "q_graph_pagerank",
    "index.build" -> "build_ivf_index",
    "index.build" -> "build_bm25_index",
    "index.build" -> "build_pq_codebooks",
    "index.build" -> "build_bm25_upsert",
    "IndexStore.save" -> "build_index_store",
    "IndexStore.append" -> "build_index_append",
    "IndexStore.compact" -> "build_index_compact",
    "IndexStore.read" -> "q_index_compact")

  val opsPerPass = 1
  private val builds = SparkEntry.benchArtifacts.toMap
  private var lastDir = ""

  /** One cold run of [[Chain]], writing under `dir`. */
  def runChain(dir: String): Unit = {
    SparkEntry.clearCaches()
    spark.catalog.clearCache()
    Chain.foreach { case (layer, name) =>
      trace.span(layer) {
        trace.span(name) {
          if (name.startsWith("build_"))
            builds(name)(spark, data).write.format("noop").mode("overwrite").save()
          else {
            val df = SparkEntry.queries(name)(spark, data)
            trace.span("sink.write") {
              df.write.mode("overwrite").parquet(s"$dir/$name")
            }
          }
        }
      }
    }
  }

  def setup(warm: Int): Unit =
    (0 until warm).foreach(i => runChain(s"$out/graph/warm$i"))

  def pass(p: Int): Int = {
    lastDir = s"$out/graph/pass$p"
    runChain(lastDir)
    0
  }

  /** The chain's oracle-checked outputs under `dir`, with their twins
    * and the tables to check them against.
    */
  def oracleJson(dir: String): String = {
    val twins = Chain.map(_._2).filter(SparkEntry.oracleSql.contains).map { n =>
      s"""{"name": "$n", "output": ${Main.q(s"$dir/$n")}, "sql": ${Main.q(SparkEntry.oracleSql(n))}}"""
    }
    s"""{"data": ${Main.q(data)}, "oracle": ${twins.mkString("[", ", ", "]")}}"""
  }

  def resultJson: String = s""""graph": ${oracleJson(lastDir)}"""

  /** The chain's layer spans in pass `p`. */
  def layers(p: Int): Seq[(String, Double)] =
    Chain.map(_._1).distinct.map(n => s"${n}_ms" -> trace.spanMs(p, n))

  def passLayers(p: Int): Map[String, Double] =
    if (!trace.on) Map.empty
    else (layers(p) :+ ("sink.write_ms" -> trace.spanMs(p, "sink.write"))).toMap
}

object GraphIndex {
  /** The pass number the chain's spans carry when it runs after
    * another workload's timed passes.
    */
  val ChainPass = -3
}
