package graft.operators

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Data-sized RDD partitioning for the GraphX paths.
  *
  * A Pregel run schedules one task per partition per superstep (times
  * the number of internal stages), so a few-thousand-vertex graph whose
  * edge RDD inherits the 32-way shuffle layout pays ~supersteps × 32
  * empty-task rounds of scheduler overhead — measured as most of the
  * q_graphx_depth / q_dedup_cc wall at sf0.1. Sizing uses Catalyst's
  * size ESTIMATE (`optimizedPlan.stats`, no extra job — a count here
  * would re-run the expensive pair generators feeding CC): ~one
  * partition per 32 MB, capped at the current parallelism — every
  * caller COALESCES an already-wider RDD down to this size, so the cap
  * is the no-op bound (coalesce can only shrink). At real cluster
  * scale defaultParallelism is thousands, so a 100 TB edge relation
  * keeps thousands of partitions; the test graphs collapse to the
  * floor of 2 (keeping every superstep genuinely distributed). If a
  * future caller ever uses this with `repartition` to grow, drop the
  * `min(cur, ...)` cap.
  *
  * CALLERS MUST PASS A SCAN-ANCHORED FRAME (r19): Catalyst's size
  * estimate for a JOIN multiplies child sizes, so passing the derived
  * pair/edge relation returns garbage (measured: the phash band
  * self-join estimated 8.9e35 bytes, the minhash pairs 1.9e12 — both
  * pinned every Pregel run at the 32-way cap, the exact empty-task
  * storm this sizing exists to avoid; q_phash_groups spent ~1.9 s of
  * its 2.36 s there). Every dup-group graph here has O(corpus) edges
  * by construction (chain, bounded-degree LSH bands, tree), so the
  * CORPUS scan — whose stats are parquet-accurate — is the honest
  * anchor for the edge relation's size.
  */
object SizedRdd {

  def parts(df: DataFrame, bytesPerPart: Long = 32L << 20): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cur = df.sparkSession.sparkContext.defaultParallelism
    val t = bytes / bytesPerPart + 1
    math.max(2, math.min(cur, if (t > Int.MaxValue) Int.MaxValue else t.toInt))
  }

  /** GraphX connected components of the undirected graph over
    * `vertices` (one id column) and `edges` (two id columns), as
    * (doc_id, keeper) with keeper = the smallest id in the vertex's
    * component — GraphX CC labels every vertex with the smallest vertex
    * id reachable, exactly the deterministic keep-one-per-group rule.
    * Both RDDs are coalesced to the width [[parts]] gives the VERTEX
    * scan (the anchor rule above). `shuffleEdges` keeps an expensive
    * edge generator at its own width: a narrow coalesce would pull the
    * generator itself down to that width, so only its small output rows
    * should move.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      shuffleEdges: Boolean): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val p = parts(vertices)
    val vRDD = vertices.as[Long].rdd.coalesce(p).map(id => (id, ()))
    val eRDD = edges.as[(Long, Long)].rdd.coalesce(p, shuffle = shuffleEdges)
      .map { case (a, b) => Edge(a, b, ()) }
    Graph(vRDD, eRDD, ()).connectedComponents().vertices.toDF("doc_id", "keeper")
      .select(col("doc_id"), col("keeper").cast("long").as("keeper"))
  }
}
