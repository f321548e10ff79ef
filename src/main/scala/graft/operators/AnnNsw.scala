package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Graph-navigable ANN (HNSW-class) over the IVF coarse layout — the
  * billion-scale hybrid: the KMeans quantizer routes a probe to a few
  * inverted lists (exactly [[AnnIvf]]), and INSIDE each list a
  * navigable-small-world graph replaces the linear scan with a greedy
  * best-first walk. This closes the reference's HNSW declaration
  * (`db/models/embedding.py:15-18` — a pgvector `hnsw (embedding
  * vector_cosine_ops)` index) with the architecture that actually
  * distributes: one monolithic HNSW graph cannot shard, so production
  * systems (FAISS-style) quantize first and keep per-shard graphs —
  * which is the shape built here.
  *
  * Scale notes:
  *  - graph BUILD is `mapPartitions` over cluster-partitioned lists;
  *    per-list work is bounded by the list size, which the IVF nList
  *    sizing rule (lists ≈ corpus/target_list_len) keeps constant. The
  *    in-list kNN here is exact (quadratic in the SMALL list); swap in
  *    NN-descent per list for larger list targets — same seam.
  *  - SEARCH is a `cogroup` on the cluster id: the probe meets its
  *    lists' graph partitions where they live; nothing is broadcast
  *    except the (tiny) centroid table, and only walked vectors are
  *    scored — sublinear in the list where a scan is linear.
  *  - Both stages hold ONE list in memory at a time (the per-shard
  *    serving trade every graph index makes).
  */
object AnnNsw {

  /** vec per list with its adjacency: (cluster, vec_id, e, nbrs). */
  final case class NswIndex(graph: DataFrame, centroids: DataFrame, idCol: String)

  // public: Catalyst's generated (de)serializers instantiate these —
  // a private case class fails whole-stage codegen with a
  // "Private member cannot be accessed" compile error
  final case class GraphRow(cluster: Int, vec_id: Long,
      e: Seq[Double], nbrs: Seq[Long])
  final case class ProbeRow(cluster: Int, probe_id: Long, pv: Seq[Double])
  final case class Hit(probe_id: Long, vec_id: Long, cos: Double)

  private[operators] def cosine(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Builds the per-list NSW graphs over an [[AnnIvf.IvfIndex]]:
    * each vector is linked to its `m` nearest in-list neighbours by
    * cosine (symmetrized implicitly by the walk, which scores — not
    * follows — every neighbour it sees).
    */
  def buildGraph(index: AnnIvf.IvfIndex, m: Int = 8): NswIndex = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val nLists = math.max(2, index.centroids.count().toInt)
    val rows = index.assigned
      .select(col("cluster").cast("int"), col(index.idCol).cast("long"), col("e"))
      .as[(Int, Long, Seq[Double])]
    val graph = rows
      .repartition(nLists, col("cluster"))
      .mapPartitions { it =>
        // one list (or a few small ones) per partition
        val byCluster = it.toSeq.groupBy(_._1)
        byCluster.iterator.flatMap { case (cl, vecs) =>
          val ids = vecs.map(_._2).toArray
          val es = vecs.map(_._3.toIndexedSeq).toArray
          val nbrs = Array.fill(ids.length)(
            scala.collection.mutable.SortedSet.empty[Long])
          ids.indices.foreach { i =>
            val sims = ids.indices.filter(_ != i)
              .map(j => (cosine(es(i), es(j)), ids(j), j))
            // deterministic: cos desc, then vec_id asc
            sims.sortBy { case (c, id, _) => (-c, id) }.take(m)
              .foreach { case (_, _, j) =>
                // UNDIRECTED links (standard NSW): the reverse edge is
                // what keeps low-out-degree nodes reachable; degree is
                // bounded by 2m
                nbrs(i) += ids(j); nbrs(j) += ids(i)
              }
          }
          val idx = ids.zipWithIndex.toMap
          ids.indices.iterator.map { i =>
            // shrink hubs to 2m (HNSW's M_max prune): keep the CLOSEST
            // links — a hub's farthest in-edges are the redundant ones
            val kept =
              if (nbrs(i).size <= 2 * m) nbrs(i).toSeq
              else nbrs(i).toSeq
                .sortBy(id => (-cosine(es(i), es(idx(id))), id))
                .take(2 * m)
                .sorted
            GraphRow(cl, ids(i), vecs(i)._3, kept)
          }
        }
      }
      .toDF()
      .persist()
    NswIndex(graph, index.centroids, index.idCol)
  }

  /** The bounded best-first walk over one list's adjacency, from a given
    * entry — extracted (r15) so [[AnnHnsw]]'s layered search runs the
    * IDENTICAL base-layer walk after its descent (bit-compatible with
    * the recursive-CTE replay both twins share). Returns the kept
    * results, unordered.
    */
  private[operators] def walkList(byId: Map[Long, GraphRow], entry: Long,
      pv: IndexedSeq[Double], efSearch: Int): Iterator[(Double, Long)] = {
    val visited = scala.collection.mutable.Set.empty[Long]
    // frontier: best candidate first; results: worst kept on
    // top so the bound check is O(1)
    val frontier = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (c, -id) })
    val results = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) })
    def score(id: Long): Double = cosine(byId(id).e.toIndexedSeq, pv)
    def push(id: Long): Unit = if (visited.add(id)) {
      val c = score(id)
      frontier.enqueue((c, id))
      results.enqueue((c, id))
      if (results.size > efSearch) results.dequeue()
    }
    push(entry)
    var continue = true
    while (continue && frontier.nonEmpty) {
      val (c, id) = frontier.dequeue()
      // stop when the best unexplored candidate can't improve
      // the worst kept result (standard NSW termination)
      if (results.size >= efSearch && c < results.head._1) continue = false
      else byId(id).nbrs.foreach(push)
    }
    results.dequeueAll.iterator
  }

  /** Greedy best-first walk per (probe, list): classic NSW search with
    * a bounded frontier (`efSearch`). Entry point = the list's min
    * vec_id (deterministic; a centroid-nearest entry is the same walk,
    * one hop longer). Returns top-k per probe across its probed lists.
    */
  def topK(ix: NswIndex, probes: DataFrame, probeId: String, probeVec: String,
      k: Int, nProbe: Int, efSearch: Int = 32): DataFrame = {
    val spark = ix.graph.sparkSession
    import spark.implicits._
    // route each probe to its nProbe nearest lists (the AnnIvf rule)
    val routed = AnnIvf.route(probes
        .select(col(probeId).cast("long").as("probe_id"),
          VectorOps.toDoubleArr(col(probeVec)).as("pv")), ix.centroids, nProbe)
      .select(col("cluster").cast("int"), col("probe_id"), col("pv"))
      .as[ProbeRow]
    val graphDS = ix.graph.as[GraphRow]
    val hits = graphDS.groupByKey(_.cluster)
      .cogroup(routed.groupByKey(_.cluster)) {
        (_: Int, gIt: Iterator[GraphRow], pIt: Iterator[ProbeRow]) =>
        val ps = pIt.toSeq
        if (ps.isEmpty) Iterator.empty
        else {
          val rows = gIt.toArray
          val byId = rows.map(r => r.vec_id -> r).toMap
          val entry = if (rows.isEmpty) -1L else rows.iterator.map(_.vec_id).min
          ps.iterator.flatMap { p =>
            if (entry < 0) Iterator.empty
            else walkList(byId, entry, p.pv.toIndexedSeq, efSearch)
              .map((t: (Double, Long)) => Hit(p.probe_id, t._2, t._1))
          }
        }
      }
    // merge lists per probe with the IVF ranking
    AnnIvf.cosTopK(hits.toDF(), Seq("probe_id"), "vec_id", col("cos"), k)
      .withColumn("rk", col("rk").cast("long"))
  }
}
