package graft.operators.clustering

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end graph construction (E1 tail, SURVEY.md §3): feature
  * scaling (O-50) → KMeans micro-clustering (O-51: driver-local Lloyd
  * over a bounded training set, distributed label pass) → driver Ward
  * over the centroids (O-52) → rebalance (O-53) → flattened D6 tables
  * with deterministic ids and materialized paths.
  *
  * Scale shape — identical to the reference's own design
  * (graph_creator.py:179-194): the driver-side data are the KMeans
  * training set, the ≤800 micro-cluster centroids (bounded by
  * `maxMicro`, not by input size) and the per-dim scaling stats
  * (bounded by dimensionality). The training set is at most
  * `trainTarget × dim` doubles, trainTarget = max(sampleFloor, 64·k):
  * ≤ 51,200 × 64 ≈ 26 MB at maxMicro = 800, whatever the corpus size.
  * Membership never leaves the cluster: labels come from one
  * distributed nearest-centroid pass, and the movie→leaf assignment is
  * a broadcast join of that label column against the ≤800-row
  * cluster→leaf map.
  */
object GraphBuild {

  /** Built tables + the build-time `.persist()` handles (`persisted`),
    * so a cache-eviction hook can unpersist what the build cached —
    * dropping the memo entry alone leaves InMemoryRelations in the
    * session CacheManager, where an identical rebuild plan would
    * silently substitute the stale cache (r12 hygiene).
    */
  final case class GraphTables(graph: DataFrame, movies: DataFrame,
      labels: DataFrame, persisted: Seq[DataFrame] = Nil,
      // exported by the o51_kmeans oracle replay (r13, VERDICT r12 #3):
      // per-dim (mu, sigma-adjusted) scaling stats + the final trained
      // centroids — given these exact doubles, scaling and assignment
      // are plain replayable arithmetic
      scaleStats: Array[(Double, Double)] = Array.empty,
      centers: Array[Array[Double]] = Array.empty,
      // PRE-rebalance tree rows (r14): exported so the q_graph_build /
      // q_e1_pipeline oracles can replay rebalance+flatten relationally
      preRows: Seq[TreeOps.PreRow] = Nil)

  /** Per-dim (mu, sigma) with population σ (sklearn ddof=0,
    * graph_creator.py:114); σ == 0 dims are already replaced by 1.0
    * (constant dims scale to exactly 0). 64 rows for 64 dims —
    * independent of row count.
    */
  def scaleStats(df: DataFrame, arrCol: String): Array[(Double, Double)] =
    df.select(posexplode(col(arrCol)))
      .groupBy("pos")
      .agg(avg(col("col").cast("double")).as("mu"),
        stddev_pop(col("col").cast("double")).as("sigma"))
      .orderBy("pos").collect()
      .map { r =>
        val s = r.getDouble(2)
        (r.getDouble(1), if (s == 0.0) 1.0 else s)
      }

  /** Applies pre-computed [[scaleStats]] as one codegen'd zip_with
    * chain: (CAST(x AS DOUBLE) − mu) / sigma — two IEEE ops per dim, the
    * exact sequence the o51 oracle replays from the exported doubles.
    */
  def scaleWith(stats: Array[(Double, Double)], arrCol: String): Column = {
    val mus = array(stats.map(s => lit(s._1)).toSeq: _*)
    val sigmas = array(stats.map(s => lit(s._2)).toSeq: _*)
    zip_with(
      zip_with(transform(col(arrCol), x => x.cast("double")), mus, (x, m) => x - m),
      sigmas, (x, s) => x / s)
  }

  /** O-50 z-score scaling (stats computed inline — see [[scaleStats]]). */
  def scaleFeatures(df: DataFrame, arrCol: String): Column =
    scaleWith(scaleStats(df, arrCol), arrCol)

  /** The bounded training set of [[microCluster]]: the cluster count
    * `k`, the Lloyd iteration cap, the input coalesced to
    * data-sized partitions (`sized`, what the label pass scans) and the
    * gathered training vectors sorted by id (so the fit never depends on
    * partitioning).
    */
  private[graft] final case class TrainingSet(k: Int, maxIter: Int,
      sized: DataFrame, points: Array[Array[Double]]) {
    /** Seeded k-means++ + Lloyd over `pts` (default: the gathered rows;
      * PQ passes per-subspace slices of them). k never exceeds the rows.
      */
    def fit(pts: Array[Array[Double]] = points): Array[Array[Double]] =
      Lloyd.fit(pts, math.max(2, math.min(k, pts.length)), maxIter)
  }

  /** k = min(maxMicro, max(100, n/50)) like settings.py:113-121, clamped
    * to n, and ONE Spark job that gathers the training rows to the
    * driver: all of them up to `trainTarget = max(sampleFloor, 64·k)`,
    * past that a deterministic xxhash64 stride sample on the id (~64
    * training points per centroid, the FAISS convention; stable under
    * any partitioning). The gathered set is bounded by trainTarget×dim
    * doubles whatever the corpus size.
    */
  private[graft] def trainingSet(features: DataFrame, idCol: String, featCol: String,
      maxMicro: Int, sampleFloor: Long): TrainingSet = {
    val spark = features.sparkSession
    import spark.implicits._
    val n = features.count()
    val k = math.max(2, math.min(n, math.min(maxMicro, math.max(100, n / 50))).toInt)
    // Size partitions to the DATA, not the session default: the label
    // pass schedules one task per partition, so a small feature frame
    // inheriting a wide parallelism pays empty-task overhead. ~50k
    // rows/partition keeps a 100 TB input at thousands of partitions
    // while a thousand-row frame collapses to a few; coalesce on the
    // (persisted) input is a narrow dependency, no shuffle.
    val curParts = features.rdd.getNumPartitions
    val target = math.max(1, math.min(curParts, math.ceil(n / 50000.0).toInt))
    val sized = if (target < curParts) features.coalesce(target) else features
    val trainTarget = math.max(sampleFloor, 64L * k)
    // ceil: a floor stride can overshoot the target sample by ~2×
    // (n=200k, target=51.2k: floor gives stride 3 → 66k rows); stride 1
    // keeps every row
    val stride = math.max(1L, (n + trainTarget - 1) / trainTarget)
    val rows = sized.filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
      .select(col(idCol).cast("long"), col(featCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    // 20 Lloyd iterations on the full set, 10 on a sample: a coarse
    // quantizer trained on ~64 points per centroid gains nothing from
    // more. Sorted by id: the collect order follows the partitioning,
    // the fit must not.
    TrainingSet(k, if (stride == 1L) 20 else 10, sized,
      rows.sortBy(_._1).map(_._2))
  }

  /** O-51: per-row micro-cluster labels and the k×dim centroid matrix
    * (array index == cluster id), seed 42 (graph_creator.py:183).
    *
    * The fit runs in-process on the driver over the bounded
    * [[trainingSet]] ([[Lloyd]] — the reference's own one-machine
    * MiniBatchKMeans design): the training set is gathered in one job,
    * so a training costs a constant number of Spark jobs, not one per
    * init step and iteration. Past `sampleFloor` rows it is a hash-stride
    * sample (VERDICT r9 #4 — full-corpus Lloyd is O(n·k·iters) and the
    * reference's k formula pushes k to its 800 cap exactly when n grows),
    * and only the final label assignment touches the full corpus: one
    * O(n·k) distributed pass. The same seam trains the IVF coarse
    * quantizer ([[graft.operators.AnnIvf]]) and the PQ codebooks.
    */
  def microCluster(features: DataFrame, idCol: String, featCol: String,
      maxMicro: Int = 800, sampleFloor: Long = 50000L): (DataFrame, Array[Array[Double]]) = {
    val ts = trainingSet(features, idCol, featCol, maxMicro, sampleFloor)
    val centers = ts.fit()
    // Final label assignment is the exact nearest-final-centroid rule
    // (AnnIvf.assignNearestArr: Σ(xᵢ−cᵢ)² in index order, strict <,
    // tie → lowest cluster) — plain arithmetic any engine reproduces
    // bit-for-bit from the exported centroid doubles (r13, VERDICT r12
    // #3). Build-time and append-time assignment are ONE rule everywhere.
    val labels = graft.operators.AnnIvf.assignNearestArr(ts.sized, idCol, featCol,
        centers.zipWithIndex.map { case (c, i) => (i, c) })
      .select(col(idCol), col("cluster").cast("int").as("cluster"))
    (labels, centers)
  }

  /** Full build over an (id, ARRAY<FLOAT>) frame → D6 graph + movie
    * assignment tables.
    */
  def build(emb: DataFrame, idCol: String, arrCol: String,
      maxMicro: Int = 800, maxDepth: Int = 5, maxFanout: Int = 8): GraphTables = {
    val spark = emb.sparkSession
    import spark.implicits._

    // persisted: the input is consumed by the scaling-stats pass, the
    // scaled frame by KMeans's count, training gather and label pass —
    // without this the ENTIRE upstream lineage (for E1: clean → window →
    // inference → act features) recomputes per consumer.
    val input = emb.persist()
    val stats = scaleStats(input, arrCol)
    val scaled = input.select(col(idCol), scaleWith(stats, arrCol).as("scaled"))
      .persist()
    val (labels, centers) = microCluster(scaled, idCol, "scaled", maxMicro)

    val sizes = labels.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val dendro = Ward.linkage(centers)
    val preTree = TreeOps.fromDendro(dendro, sizes)
    val tree = TreeOps.rebalance(preTree, maxDepth = maxDepth, maxFanout = maxFanout)
    val (rows, assign) = TreeOps.flatten(tree)

    val graph = rows.toDF()
      .select(col("id"), col("path"), col("name"), col("tpe").as("type"),
        col("children_count"), col("depth"), col("count"), col("distance"))
    val assignDF = assign.toSeq.toDF("cluster", "graph_id")
    val movies = labels.join(broadcast(assignDF), Seq("cluster"))
      .select(col(idCol).as("movie_id"), col("graph_id"))
    // the tree a build returns is the one its readers serve next: index
    // it from the rows already on the driver, with no query
    slot(graph).set(new NodeIndex(graph, rows.map(r => (r.id, r.path, r.depth))))
    GraphTables(graph, movies, labels, Seq(input, scaled), stats, centers,
      TreeOps.preorder(preTree))
  }

  /** E2 serving (graph_repo.py:92-135): immediate children of a node via
    * the ltree `path ~ 'p.*{1}'` equivalent — prefix + depth predicates.
    *
    * The parent's path and depth come from the session's [[nodeIndex]]
    * of `graph`: once `graph` is indexed, a call runs no job for the
    * parent. The children are one filter carrying the parent's path and
    * depth as literals: a depth-partitioned table prunes its scan to the
    * `depth = parent + 1` directory, and an in-memory tree plans to a
    * `LocalTableScan`, which collects on the driver with no job.
    *
    * The rows are those of the join `child.path LIKE parent.path || '.%'
    * AND child.depth = parent.depth + 1`:
    *  - an unknown id gives no rows, with the same schema;
    *  - a parent with a NULL path or depth has no children;
    *  - a duplicated id gives one filter per parent row, unioned, so a
    *    child two parent rows match appears twice, as the join has it.
    */
  def childrenOf(graph: DataFrame, nodeId: Long): DataFrame = {
    val out = Seq("id", "path", "name", "type", "children_count", "count").map(col)
    nodeIndex(graph).parents.getOrElse(nodeId, Nil)
      .map { case (path, depth) => graph.filter(isChildOf(path, depth)).select(out: _*) }
      .reduceOption(_ union _)
      .getOrElse(graph.filter(lit(false)).select(out: _*))
  }

  /** The parent rows of one graph: id → every `(path, depth)` row with
    * that id, in row order, NULL paths and depths kept. `of` holds the
    * graph weakly, by reference.
    */
  private final class NodeIndex(graph: DataFrame, rows: Seq[(Long, Any, Any)]) {
    val of = new WeakReference(graph)
    val parents: Map[Long, Seq[(Any, Any)]] = rows.groupMap(_._1)(r => (r._2, r._3))
  }

  /** One slot per session: the node index of the last graph asked about. */
  private val nodeIndexes =
    graft.SessionCache.artifact[AtomicReference[NodeIndex]]("graph_node_index")(_ => ())

  private def slot(graph: DataFrame): AtomicReference[NodeIndex] =
    nodeIndexes.getOrElseUpdate(graph.sparkSession, "")(new AtomicReference[NodeIndex])

  /** The session's node index of `graph`. Unless the slot already holds
    * this very DataFrame's, one `collect` of its `(id, path, depth)` rows
    * rebuilds it (no job over an in-memory tree); [[build]] fills it
    * with the tree it returns.
    *
    * It has one entry per graph row, so it is bounded by the tree:
    * ≤ 2·maxMicro − 1 rows (1,599 at the 800 cap). The slot remembers
    * its graph by reference, weakly: any other DataFrame rebuilds the
    * index, so two graphs never share one and a session holds one tree
    * however many frames a caller makes. A file-backed graph's index is
    * as fresh as that frame's own file listing. A plan hash or an
    * `identityHashCode` key could collide (see [[graft.SessionCache]]).
    */
  private def nodeIndex(graph: DataFrame): NodeIndex = {
    val s = slot(graph)
    Option(s.get).filter(_.of.get eq graph).getOrElse {
      // integral ids: the cast keeps `id = nodeId`'s matches
      val rows = graph.select(col("id").cast("long"), col("path"), col("depth")).collect()
        .filterNot(_.isNullAt(0)).map(r => (r.getLong(0), r.get(1), r.get(2)))
      val ix = new NodeIndex(graph, rows.toSeq)
      s.set(ix)
      ix
    }
  }

  /** The ltree `path ~ 'parent.*{1}'` rule as literals: a row is an
    * immediate child when its `depth` is the parent's plus one and its
    * `path` extends the parent's by one `.`-separated label.
    */
  def isChildOf(parentPath: Any, parentDepth: Any): Column =
    col("depth") === lit(parentDepth) + 1 &&
      col("path").startsWith(concat(lit(parentPath), lit(".")))
}
