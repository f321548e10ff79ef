package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Graph-navigable ANN over the IVF coarse layout: hierarchical
  * navigable small worlds, one graph per inverted list. This closes the
  * reference's HNSW declaration (`db/models/embedding.py:15-18`, a
  * pgvector `hnsw (embedding vector_cosine_ops)` index) with the shape
  * that distributes: one monolithic graph cannot shard, so production
  * systems (FAISS-style) quantize first and keep per-shard graphs. The
  * KMeans quantizer routes a probe to a few lists (exactly [[AnnIvf]]),
  * and inside each list a bounded best-first walk replaces the scan.
  *
  * One index shape, two artifacts:
  *  - layer 0 (`graph`: cluster, vec_id, e, nbrs) holds every list
  *    member with its vector — [[buildGraph]];
  *  - the upper layers (`layers`: cluster, layer, vec_id, nbrs, ℓ ≥ 1)
  *    hold the members whose deterministic geometric(1/4) [[levelOf]]
  *    reaches ℓ, adjacency only — [[buildLayers]]. Membership is nested
  *    by construction.
  * The NSW index is the HNSW index with no upper layers. Every layer is
  * linked by the one rule ([[link]]) and every index is searched by the
  * one search ([[topK]]); a new graph variant is a new index shape.
  *
  * Scale notes:
  *  - BUILD is `mapPartitions` over cluster-partitioned lists; per-list
  *    work is bounded by the list size, which the IVF nList sizing rule
  *    (lists ≈ corpus/target_list_len) keeps constant. The in-list kNN
  *    is exact (quadratic in the SMALL list); swap in NN-descent per
  *    list for larger list targets — same seam. Upper-layer populations
  *    shrink 4× per level, a vanishing fraction of the base build.
  *  - SEARCH is a `cogroup` on the cluster id: the probe meets its
  *    lists' layers where they live; nothing is broadcast except the
  *    (tiny) centroid table, and only walked vectors are scored.
  *  - Both stages hold ONE list in memory at a time (the per-shard
  *    serving trade every graph index makes).
  */
object AnnGraph {

  /** Layer 0 with vectors, the upper layers (empty for NSW), and the
    * quantizer that routes probes to lists.
    */
  final case class GraphIndex(graph: DataFrame, layers: DataFrame,
      centroids: DataFrame, idCol: String)

  // public: Catalyst's generated (de)serializers instantiate these —
  // a private case class fails whole-stage codegen with a
  // "Private member cannot be accessed" compile error
  final case class GraphRow(cluster: Int, vec_id: Long,
      e: Seq[Double], nbrs: Seq[Long])
  final case class LayerRow(cluster: Int, layer: Int, vec_id: Long, nbrs: Seq[Long])
  final case class ProbeRow(cluster: Int, probe_id: Long, pv: Seq[Double])
  final case class Hit(probe_id: Long, vec_id: Long, cos: Double)

  private def cosine(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic geometric(1/4) level: pairs of trailing zero bits of
    * a byteswap-mixed id (P(level ≥ ℓ) = 4^−ℓ), capped. Pure integer —
    * but nothing downstream recomputes it: levels ship inside the
    * exported adjacency, so the rule is build-side only.
    */
  def levelOf(id: Long, maxLayer: Int): Int = {
    val h = scala.util.hashing.byteswap64(id)
    math.min(maxLayer, java.lang.Long.numberOfTrailingZeros(h) / 2)
  }

  /** The link rule of every layer, over one layer's members of one list:
    * each member links to its `m` nearest by cosine (deterministic:
    * cos desc, then vec_id asc). Links are UNDIRECTED (standard NSW: the
    * reverse edge keeps low-out-degree nodes reachable); a node left
    * with more than 2m links keeps its 2m closest (HNSW's M_max prune —
    * a hub's farthest in-edges are the redundant ones). Returns each
    * member's links, ascending, in member order.
    */
  private def link(members: Seq[(Int, Long, Seq[Double])], m: Int): Seq[Seq[Long]] = {
    val ids = members.map(_._2).toArray
    val es = members.map(_._3.toIndexedSeq).toArray
    val nbrs = Array.fill(ids.length)(scala.collection.mutable.SortedSet.empty[Long])
    ids.indices.foreach { i =>
      val sims = ids.indices.filter(_ != i)
        .map(j => (cosine(es(i), es(j)), ids(j), j))
      sims.sortBy { case (c, id, _) => (-c, id) }.take(m)
        .foreach { case (_, _, j) => nbrs(i) += ids(j); nbrs(j) += ids(i) }
    }
    val idx = ids.zipWithIndex.toMap
    ids.indices.map { i =>
      if (nbrs(i).size <= 2 * m) nbrs(i).toSeq
      else nbrs(i).toSeq
        .sortBy(id => (-cosine(es(i), es(idx(id))), id))
        .take(2 * m)
        .sorted
    }
  }

  /** Runs `perList(cluster, members)` over every list of `rows`
    * (cluster, vec_id, e), one cluster-partitioned `mapPartitions`.
    */
  private def overLists[T: Encoder](rows: DataFrame, centroids: DataFrame)(
      perList: (Int, Seq[(Int, Long, Seq[Double])]) => Iterator[T]): Dataset[T] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val nLists = math.max(2, centroids.count().toInt)
    rows.as[(Int, Long, Seq[Double])]
      .repartition(nLists, col("cluster"))
      // one list (or a few small ones) per partition
      .mapPartitions(_.toSeq.groupBy(_._1).iterator.flatMap(perList.tupled))
  }

  /** Builds layer 0 over an [[AnnIvf.IvfIndex]]: every list member,
    * linked by [[link]]. The result has no upper layers — the NSW index.
    */
  def buildGraph(index: AnnIvf.IvfIndex, m: Int = 8): GraphIndex = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val rows = index.assigned
      .select(col("cluster").cast("int"), col(index.idCol).cast("long"), col("e"))
    val graph = overLists(rows, index.centroids) { (cl, vecs) =>
      vecs.iterator.zip(link(vecs, m))
        .map { case ((_, id, e), nbrs) => GraphRow(cl, id, e, nbrs) }
    }.toDF().persist()
    GraphIndex(graph, Seq.empty[LayerRow].toDF(), index.centroids, index.idCol)
  }

  /** Adds layers 1..maxLayer to a layer-0 index: layer ℓ of a list
    * links, by the same [[link]] rule, the members with
    * `levelOf ≥ ℓ`.
    */
  def buildLayers(base: GraphIndex, m: Int = 8, maxLayer: Int = 3): GraphIndex = {
    val spark = base.graph.sparkSession
    import spark.implicits._
    val rows = base.graph
      .select(col("cluster").cast("int"), col("vec_id").cast("long"), col("e"))
    val layers = overLists(rows, base.centroids) { (cl, vecs) =>
      (1 to maxLayer).iterator.flatMap { layer =>
        val members = vecs.filter(v => levelOf(v._2, maxLayer) >= layer)
        members.iterator.zip(link(members, m))
          .map { case ((_, id, _), nbrs) => LayerRow(cl, layer, id, nbrs) }
      }
    }.toDF().persist()
    base.copy(layers = layers)
  }

  /** The bounded best-first walk over one list's layer 0 from a given
    * entry — a deterministic step sequence the recursive-CTE twin
    * replays exactly. Returns the kept results, unordered.
    */
  private[graft] def walkList(byId: Map[Long, GraphRow], entry: Long,
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

  /** The search: route probes to their nProbe nearest lists (the AnnIvf
    * rule); per (probe, list) start at the top non-empty layer's min-id
    * node, greedily hop to the best-improving neighbour (strictly
    * greater cosine; ties never move) until stuck, drop one layer,
    * repeat down to layer 0 — the standard HNSW ef=1 descent. With no
    * upper layers the entry is the list's min vec_id. Then the
    * efSearch-bounded [[walkList]] from that entry. Returns top-k per
    * probe across its probed lists with the exact IVF ranking.
    */
  def topK(ix: GraphIndex, probes: DataFrame, probeId: String, probeVec: String,
      k: Int, nProbe: Int, efSearch: Int = 32): DataFrame = {
    val spark = ix.graph.sparkSession
    import spark.implicits._
    val routed = AnnIvf.route(probes
        .select(col(probeId).cast("long").as("probe_id"),
          VectorOps.toDoubleArr(col(probeVec)).as("pv")), ix.centroids, nProbe)
      .select(col("cluster").cast("int"), col("probe_id"), col("pv"))
      .as[ProbeRow]
    // one layered dataset: layer 0 carries e, upper layers carry
    // adjacency only (vectors looked up in layer 0)
    val layered = ix.graph
      .select(col("cluster").cast("int"), lit(0).as("layer"),
        col("vec_id").cast("long"), col("e"), col("nbrs"))
      .unionByName(ix.layers
        .select(col("cluster"), col("layer"), col("vec_id"),
          lit(null).cast("array<double>").as("e"), col("nbrs")))
      .as[(Int, Int, Long, Seq[Double], Seq[Long])]
    val hits = layered.groupByKey(_._1)
      .cogroup(routed.groupByKey(_.cluster)) {
        (_: Int, gIt: Iterator[(Int, Int, Long, Seq[Double], Seq[Long])],
            pIt: Iterator[ProbeRow]) =>
        val ps = pIt.toSeq
        if (ps.isEmpty) Iterator.empty
        else {
          val rows = gIt.toArray
          val base = rows.filter(_._2 == 0)
            .map(r => r._3 -> GraphRow(r._1, r._3, r._4, r._5)).toMap
          // upper-layer adjacency: layer -> (vec_id -> nbrs)
          val upper = rows.filter(_._2 > 0).groupBy(_._2)
            .map { case (l, rs) => l -> rs.map(r => r._3 -> r._5).toMap }
          val topLayer = if (upper.isEmpty) 0 else upper.keys.max
          ps.iterator.flatMap { p =>
            if (base.isEmpty) Iterator.empty
            else {
              val pv = p.pv.toIndexedSeq
              def cosOf(id: Long): Double = cosine(base(id).e.toIndexedSeq, pv)
              var layer = topLayer
              var cur = if (layer == 0) base.keysIterator.min
                        else upper(layer).keysIterator.min
              var curc = cosOf(cur)
              while (layer >= 1) {
                val nbrs = upper(layer)(cur)
                val best = nbrs.iterator.map(n => (cosOf(n), n))
                  .reduceOption((a, b) =>
                    if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
                best match {
                  case Some((c, id)) if c > curc => cur = id; curc = c
                  case _ => layer -= 1
                }
              }
              walkList(base, cur, pv, efSearch)
                .map((t: (Double, Long)) => Hit(p.probe_id, t._2, t._1))
            }
          }
        }
      }
    AnnIvf.cosTopK(hits.toDF(), Seq("probe_id"), "vec_id", col("cos"), k)
      .withColumn("rk", col("rk").cast("long"))
  }
}
