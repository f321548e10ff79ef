package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.clustering.GraphBuild

/** Graph-layer pack: deterministic D6 table generation + the two serving
  * queries E2/E3 (oracle-checked), and the real KMeans→Ward→rebalance
  * build (O-51..O-53; seeded-but-not-bit-exact ML, so declared rows-only
  * per SURVEY.md §5.4 and invariant-tested in ScalaTest instead).
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** O-7 id/path generation: the deterministic replacement for DB serial
    * ids (graph_repo.py:75-84) — ids from key arithmetic, materialized
    * paths from parent concatenation, children_count aggregated in-engine.
    * Built over region→nation so the oracle can replay it exactly.
    */
  private val o07: Q = (s, d) => {
    val region = Tables.region(s, d)
    val nation = Tables.nation(s, d)
    val root = region.agg(count(lit(1)).as("cc")).select(
      lit(1L).as("id"), lit("root").as("path"), lit("All movies").as("name"),
      lit("node").as("type"), col("cc").cast("int").as("children_count"),
      lit(0L).as("depth"))
    val perRegion = nation.groupBy("n_regionkey").agg(count(lit(1)).as("cc"))
    val regions = region.join(perRegion, col("r_regionkey") === col("n_regionkey"), "left")
      .select((col("r_regionkey") + 2).cast("long").as("id"),
        concat(lit("root."), (col("r_regionkey") + 2).cast("string")).as("path"),
        col("r_name").as("name"), lit("node").as("type"),
        coalesce(col("cc"), lit(0L)).cast("int").as("children_count"),
        lit(1L).as("depth"))
    val nations = nation.select((col("n_nationkey") + 7).cast("long").as("id"),
      concat(lit("root."), (col("n_regionkey") + 2).cast("string"),
        lit("."), (col("n_nationkey") + 7).cast("string")).as("path"),
      col("n_name").as("name"), lit("leaf").as("type"),
      lit(0).as("children_count"), lit(2L).as("depth"))
    root.unionAll(regions).unionAll(nations)
  }

  private val o07Sql: String =
    """(SELECT 1 AS id, 'root' AS path, 'All movies' AS name, 'node' AS type,
      |        CAST((SELECT count(*) FROM region) AS INT) AS children_count, 0 AS depth
      | UNION ALL
      | SELECT r_regionkey + 2 AS id, 'root.' || CAST(r_regionkey + 2 AS VARCHAR) AS path,
      |        r_name AS name, 'node' AS type,
      |        CAST(coalesce((SELECT count(*) FROM nation n WHERE n.n_regionkey = r.r_regionkey), 0) AS INT) AS children_count,
      |        1 AS depth
      | FROM region r
      | UNION ALL
      | SELECT n_nationkey + 7 AS id,
      |        'root.' || CAST(n_regionkey + 2 AS VARCHAR) || '.' || CAST(n_nationkey + 7 AS VARCHAR) AS path,
      |        n_name AS name, 'leaf' AS type, 0 AS children_count, 2 AS depth
      | FROM nation)""".stripMargin

  /** O-8 point scan: `SELECT ... WHERE id = ?` with the predicate pushed
    * to the parquet scan (graph_repo.py:108,193-198).
    */
  private val o08: Q = (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") === 42)
      .select("doc_id", "lang", "source", "n_chars")

  /** E2: immediate children of a node on the generated graph — the
    * `path ~ 'root.3.*{1}'` ltree match as prefix+depth (api/api.py:35-59).
    */
  private val e2: Q = (s, d) =>
    GraphBuild.childrenOf(
      o07(s, d).withColumn("count", lit(0L)), nodeId = 3L)
      .drop("count")

  // The D6 graph table materialized ONCE per data dir as a parquet table
  // PARTITIONED BY depth — the engine's equivalent of the reference's
  // GiST path index (db_init.sql:12-13): serving "children of node X"
  // filters on depth = parent.depth + 1, which partition-prunes the scan
  // to a single directory regardless of graph size. Memoized like the
  // other build artifacts (an index is built once, queried many times).
  private val depthTblCache =
    graft.SessionCache.artifact[String]("graph_depth")(_ => ())
  private def depthTable(s: SparkSession, d: String): String =
    depthTblCache.getOrElseUpdate(s, d) {
      val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_graph_depth_" + graft.Scratch.dirTag(d)).toString
      o07(s, d).write.mode("overwrite").partitionBy("depth").parquet(out)
      out
    }

  /** E2 served from the depth-partitioned table: the parent is a 1-row
    * point lookup (as in the reference API, api/api.py:35-45), then the
    * children filter carries a LITERAL depth so Catalyst prunes to the
    * `depth=parent+1` partition — asserted in PlanSpec.
    */
  private val e2Pruned: Q = (s, d) =>
    GraphBuild.childrenOf(
      s.read.parquet(depthTable(s, d)).withColumn("count", lit(0L)), nodeId = 3L)
      .drop("count")

  /** E3: movie + its embedding windows (api/api.py:62-74;
    * graph_repo.py:183-199) — point filter, broadcast 1:N join, vectors
    * exploded to rows so the oracle hash-compares scalars.
    */
  private val e3: Q = (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 10)
      .select(col("doc_id"), col("source"))
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), posexplode(col("embedding")))
      .select(col("doc_id"), col("source"), (col("pos") + 1).cast("long").as("dim"),
        (round(col("col").cast("double"), 6) + lit(0.0)).as("x"))

  /** Where the o51 oracle's replay inputs are exported (r13, VERDICT
    * r12 #3 — the IVF centroid-export pattern): the KMeans TRAINING is
    * not SQL-replayable, but its outputs — per-dim scaling stats and
    * the final centroid doubles — are just data, and given those exact
    * doubles the label pass is replayable arithmetic: scaled =
    * (CAST(x AS DOUBLE) − mu) / sigma, then exact nearest-centroid
    * (Σ(xᵢ−cᵢ)² index order, strict <, tie → lowest cluster =
    * `AnnIvf.assignNearestArr`, the rule microCluster now uses for its
    * final assignment). Fixed tmpdir names: static oracle SQL, one data
    * dir per Verify run (the graph/E1/BM25 export constraint).
    */
  /** Where the PRE-rebalance tree is exported for the q_graph_build
    * oracle (r14, VERDICT r13 #1 — the Ward-graduation pattern): the
    * un-replayable part of the build is centroid GEOMETRY; the tree
    * SHAPING (rebalance + flatten + deterministic naming) is relational
    * logic once the pre-tree is data. See
    * [[graft.operators.clustering.TreeOps.preorder]] for why the
    * sweep-loop collapses to per-edge predicates on monotone Ward
    * heights, and [[rebalanceReplaySql]] for the DuckDB replay.
    */
  private def preTreePath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_pretree").toString

  private[queries] def writePreTree(s: SparkSession,
      rows: Seq[graft.operators.clustering.TreeOps.PreRow], path: String): Unit = {
    val sp = s
    import sp.implicits._
    rows.toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The rebalance+flatten replay over a pre-tree export (shared with
    * q_e1_pipeline's oracle, which replays the SAME rules over E1's own
    * pre-tree). Mirrors TreeOps EXACTLY:
    *   - dissolved: non-leaf, original depth < 5, dist/(parent.dist +
    *     1e-9) > 0.65 (the reference's divergence test,
    *     graph_creator.py:268-271) — per-edge, valid because Ward
    *     heights are monotone (TreeOps.preorder doc);
    *   - survivors = depth ≤ 5 ∧ not dissolved; final parent = nearest
    *     non-dissolved proper ancestor (recursive walk `fp`);
    *   - flatten ids = preorder rank among survivors; names replay
    *     Naming.fallback: replace(parent, ' ', '_') || '_Subgroup_' ||
    *     sibling-index in final order; type = leaf iff no final
    *     children (TreeOps.flatten:86).
    */
  private[queries] def rebalanceReplaySql(path: String): String =
    s"""WITH RECURSIVE
       |pn AS (
       |  SELECT n.pre_id, n.parent_id, n.depth, n.dist, n.cnt,
       |         (NOT n.is_leaf AND n.depth < 5 AND n.parent_id <> 0
       |          AND n.dist / (p.dist + 1e-9) > 0.65) AS dissolved
       |  FROM '$path/*.parquet' n
       |  LEFT JOIN '$path/*.parquet' p ON n.parent_id = p.pre_id),
       |surv AS (SELECT * FROM pn WHERE depth <= 5 AND NOT dissolved),
       |fp(pre_id, anc) AS (
       |  SELECT pre_id, parent_id FROM surv WHERE parent_id <> 0
       |  UNION ALL
       |  SELECT f.pre_id, m.parent_id FROM fp f
       |  JOIN pn m ON f.anc = m.pre_id WHERE m.dissolved),
       |par AS (
       |  SELECT f.pre_id, f.anc AS fparent FROM fp f
       |  JOIN pn m ON f.anc = m.pre_id WHERE NOT m.dissolved),
       |ids AS (
       |  SELECT s.pre_id, row_number() OVER (ORDER BY s.pre_id) AS id,
       |         s.cnt, s.dist, p.fparent
       |  FROM surv s LEFT JOIN par p ON s.pre_id = p.pre_id),
       |sib AS (
       |  SELECT i.*, row_number() OVER (PARTITION BY i.fparent ORDER BY i.pre_id) AS six
       |  FROM ids i),
       |tree(pre_id, id, path, name, depth) AS (
       |  SELECT pre_id, id, 'root', 'All movies', 0 FROM ids WHERE fparent IS NULL
       |  UNION ALL
       |  SELECT c.pre_id, c.id, t.path || '.' || CAST(c.id AS VARCHAR),
       |         replace(t.name, ' ', '_') || '_Subgroup_' || CAST(c.six AS VARCHAR),
       |         t.depth + 1
       |  FROM sib c JOIN tree t ON c.fparent = t.pre_id),
       |cc AS (SELECT fparent, count(*) AS n FROM ids
       |       WHERE fparent IS NOT NULL GROUP BY fparent)
       |SELECT CAST(t.id AS BIGINT) AS id, t.path, t.name,
       |       CASE WHEN coalesce(cc.n, 0) = 0 THEN 'leaf' ELSE 'node' END AS type,
       |       CAST(coalesce(cc.n, 0) AS INT) AS children_count,
       |       CAST(t.depth AS INT) AS depth,
       |       CAST(i.cnt AS BIGINT) AS count,
       |       round(i.dist, 6) + 0.0 AS distance
       |FROM tree t JOIN ids i ON t.pre_id = i.pre_id
       |LEFT JOIN cc ON i.pre_id = cc.fparent""".stripMargin

  private def kmeansStatsPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_kmeans_stats").toString
  private def kmeansCentsPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_kmeans_cents").toString

  /** O-51 micro-cluster labels — oracle-checked since r13 via the
    * stats+centroid export replay (see [[kmeansStatsPath]]). Shares the
    * memoized build's clustering run rather than fitting a second model.
    */
  private def writeKmeansExports(s: SparkSession,
      bt: GraphBuild.GraphTables): Unit = {
    val sp = s
    import sp.implicits._
    bt.scaleStats.zipWithIndex
      .map { case ((mu, sg), i) => (i + 1, mu, sg) }.toSeq
      .toDF("dim", "mu", "sigma")
      .coalesce(1).write.mode("overwrite").parquet(kmeansStatsPath)
    bt.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .select(col("cluster"), col("centroid").cast("array<double>").as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(kmeansCentsPath)
  }

  private val o51: Q = (s, d) => built(s, d).labels

  /** Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): rank every vector by its squared distance to
    * its assigned cluster centroid (in the SAME scaled space the o51
    * build uses) and keep the HARDEST half of each cluster — the
    * published self-supervised pruning rule for abundant data (easy,
    * prototypical examples go first). Rides the build_graph_tree memo:
    * labels + scaling stats + centroids come from the already-built
    * KMeans, the twin replays scaling/assignment/distance from the SAME
    * stats+centroid exports the o51 oracle reads.
    *
    * Determinism: d2 is an index-order float fold on identical scaled
    * inputs (the fold ≡ list_sum precedent), ranking ties break on
    * vec_id, and the keep rule is integer (rk ≤ ⌈n_c/2⌉). The rank rides
    * `Ordinals.rankAndCount`'s adaptive gate — cluster count is bounded
    * (≤800 by the two-level contract) while cluster SIZE grows with the
    * corpus, exactly the skewed-group shape the ordinal branch bounds.
    */
  private val prune: Q = (s, d) => {
    val bt = built(s, d)
    val sp = s
    import sp.implicits._
    val cents = bt.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .select(col("cluster"), col("centroid").cast("array<double>").as("centroid"))
    val scaled = Tables.embeddings(s, d).select(col("vec_id"),
      GraphBuild.scaleWith(bt.scaleStats, "embedding").as("se"))
    val d2c = bt.labels.join(scaled, "vec_id")
      .join(broadcast(cents), Seq("cluster"))
      .withColumn("d2", expr(
        "aggregate(zip_with(se, centroid, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"))
    graft.operators.Ordinals.rankAndCount(
      d2c.select(col("vec_id"), col("cluster"), col("d2")),
      "cluster", Seq(col("d2").desc, col("vec_id")), "rk", Some("n_c"))
      .filter(expr("rk <= (n_c + 1) DIV 2"))
      .select(col("vec_id"), col("cluster"),
        (round(col("d2"), 6) + lit(0.0)).as("d2"), col("rk"))
  }

  // ---- cluster keyword labeling (c-TF-IDF, the BERTopic shape) ----
  // What a curation pipeline runs right after clustering: name each
  // cluster by its distinctive terms. Class-based TF-IDF with the
  // engine's integer idf surrogate (the q_tfidf_terms rule, cluster
  // granularity): score_bp = tf_c·10⁴ DIV cdf where tf_c = term
  // instances inside the cluster's documents and cdf = clusters
  // containing the term; top-5 per cluster. Rides the build_graph_tree
  // memo for labels (vec_id ⋈ doc_id — the embeddings ARE document
  // vectors, the hybrid-retrieval convention); the twin replays
  // labels from the SAME stats+centroid exports the o51 oracle reads.
  // One tok exchange carries the tf aggregate, the cdf window and the
  // join (the r16 q_tfidf_terms shape); the top-5 window shuffles the
  // ≤|clusters|·|vocab| aggregate only.
  private val clusterKeywords: Q = (s, d) => {
    val bt = built(s, d)
    val toks = bt.labels
      .join(Tables.documents(s, d).select(col("doc_id").as("vec_id"), col("text")),
        Seq("vec_id"))
      .select(col("cluster"), explode(split(col("text"), " ")).as("tok"))
      .repartition(col("tok"))
    toks.groupBy("cluster", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("cdf", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("tok")).cast("long"))
      .withColumn("score_bp", expr("(tf * 10000) DIV cdf"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster")
          .orderBy(col("score_bp").desc, col("tok"))).cast("long"))
      .filter(col("rk") <= 5)
      .select("cluster", "tok", "tf", "cdf", "score_bp", "rk")
  }

  private def clusterKeywordsSql: String =
    s"""WITH sv AS (
       |  SELECT list(mu ORDER BY dim) AS mus, list(sigma ORDER BY dim) AS sigmas
       |  FROM '$kmeansStatsPath/*.parquet'),
       |cents AS (SELECT cluster, centroid FROM '$kmeansCentsPath/*.parquet'),
       |scaled AS (
       |  SELECT e.vec_id,
       |         list_transform(generate_series(1, len(e.embedding)),
       |           i -> (CAST(e.embedding[i] AS DOUBLE) - sv.mus[i]) / sv.sigmas[i]) AS se
       |  FROM embeddings e CROSS JOIN sv),
       |labels AS MATERIALIZED (
       |  SELECT vec_id, cluster FROM (
       |    SELECT s.vec_id, c.cluster,
       |           row_number() OVER (PARTITION BY s.vec_id
       |             ORDER BY list_sum(list_transform(generate_series(1, len(s.se)),
       |               i -> (s.se[i]-c.centroid[i])*(s.se[i]-c.centroid[i]))), c.cluster) AS ark
       |    FROM scaled s CROSS JOIN cents c)
       |  WHERE ark = 1),
       |toks AS (
       |  SELECT l.cluster, unnest(string_split(d.text, ' ')) AS tok
       |  FROM labels l JOIN documents d ON d.doc_id = l.vec_id),
       |tfc AS MATERIALIZED (
       |  SELECT cluster, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY cluster, tok),
       |cdfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS cdf FROM tfc GROUP BY tok)
       |SELECT cluster, tok, tf, cdf, score_bp, rk FROM (
       |  SELECT cluster, tok, tf, cdf, (tf * 10000) // cdf AS score_bp,
       |         CAST(row_number() OVER (
       |           PARTITION BY cluster
       |           ORDER BY (tf * 10000) // cdf DESC, tok) AS BIGINT) AS rk
       |  FROM tfc JOIN cdfx USING (tok))
       |WHERE rk <= 5""".stripMargin

  private def pruneSql: String =
    s"""WITH sv AS (
       |  SELECT list(mu ORDER BY dim) AS mus, list(sigma ORDER BY dim) AS sigmas
       |  FROM '$kmeansStatsPath/*.parquet'),
       |cents AS (SELECT cluster, centroid FROM '$kmeansCentsPath/*.parquet'),
       |scaled AS (
       |  SELECT e.vec_id,
       |         list_transform(generate_series(1, len(e.embedding)),
       |           i -> (CAST(e.embedding[i] AS DOUBLE) - sv.mus[i]) / sv.sigmas[i]) AS se
       |  FROM embeddings e CROSS JOIN sv),
       |scored AS (
       |  SELECT s.vec_id, c.cluster,
       |         list_sum(list_transform(generate_series(1, len(s.se)),
       |           i -> (s.se[i]-c.centroid[i])*(s.se[i]-c.centroid[i]))) AS d2
       |  FROM scaled s CROSS JOIN cents c),
       |asg AS (SELECT vec_id, cluster, d2 FROM (
       |  SELECT vec_id, cluster, d2,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS ark
       |  FROM scored) WHERE ark = 1),
       |rk AS (SELECT vec_id, cluster, d2,
       |         CAST(row_number() OVER (PARTITION BY cluster ORDER BY d2 DESC, vec_id) AS BIGINT) AS rk,
       |         CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_c
       |       FROM asg)
       |SELECT vec_id, cluster, round(d2, 6) + 0.0 AS d2, rk
       |FROM rk WHERE rk <= (n_c + 1) // 2""".stripMargin

  /** Simplified silhouette (the published linear-time clustering-quality
    * metric: a = distance to the OWN centroid, b = distance to the
    * nearest OTHER centroid, s = 1 − a/b — nonnegative by construction
    * because assignment IS nearest-centroid): per-cluster mean silhouette
    * in basis points. Rides the build_graph_tree memo (same scaled space
    * + final centroids as o51); the twin replays scaling → all-centroid
    * distances → own/next split from the SAME stats+centroid exports.
    *
    * Scale/determinism: the a²/b² pass is the [[graft.operators.AnnIvf]]
    * assignNearestArr shape — one no-shuffle arithmetic pass tracking
    * best + second-best squared L2 (index-order accumulation, strict <,
    * tie → lowest cluster; the two-min update keeps b² = min over
    * non-assigned centroids, so an exact tie yields s = 0 in both
    * engines); k is bounded (≤800 by the two-level contract) so per-point
    * work is O(k·dim) with no join. Per-point s collapses to an integer
    * (ONE IEEE expression → floor → BIGINT, the house rule; a² ≤ b² keeps
    * it nonnegative so trunc == floor) before any aggregation — means are
    * integer sums DIV counts, never FP-accumulated.
    */
  private val silhouette: Q = (s, d) => {
    val bt = built(s, d)
    val cents: Array[(Int, Array[Double])] =
      bt.centers.zipWithIndex.map { case (c, i) => (i, c) }
    val sp = s
    import sp.implicits._
    // k = 1 has no "other centroid": the twin's inner joins produce an
    // empty result there, and the Scala two-min loop would otherwise
    // emit a MaxValue-sentinel b² — return the same empty frame instead
    // (silhouette is undefined for a single cluster)
    val scaled0 = Tables.embeddings(s, d).select(
      col("vec_id").cast("long").as("vec_id"),
      GraphBuild.scaleWith(bt.scaleStats, "embedding").as("se"))
    val scaled =
      if (cents.length >= 2) scaled0 else scaled0.filter(lit(false))
    val ab = scaled.as[(Long, Seq[Double])].mapPartitions { it =>
      it.map { case (id, e) =>
        val ea = e.toArray
        var best = -1
        var bestD = Double.MaxValue
        var secondD = Double.MaxValue
        var ci = 0
        while (ci < cents.length) {
          val cv = cents(ci)._2
          var dd = 0.0
          var i = 0
          while (i < ea.length) { val t = ea(i) - cv(i); dd += t * t; i += 1 }
          if (dd < bestD) { secondD = bestD; bestD = dd; best = cents(ci)._1 }
          else if (dd < secondD) { secondD = dd }
          ci += 1
        }
        (id, best, bestD, secondD)
      }
    }.toDF("vec_id", "cluster", "a2", "b2")
    ab.select(col("cluster"),
        when(col("b2") === 0.0, lit(0L)).otherwise(
          expr("CAST(floor((1.0 - sqrt(a2 / b2)) * 10000.0) AS BIGINT)")).as("s_bp"))
      .groupBy("cluster").agg(count(lit(1)).as("n"), sum(col("s_bp")).as("sum_sbp"))
      .select(col("cluster").cast("long").as("cluster"), col("n"),
        expr("sum_sbp DIV n").as("mean_sbp"))
  }

  private def silhouetteSql: String =
    s"""WITH sv AS (
       |  SELECT list(mu ORDER BY dim) AS mus, list(sigma ORDER BY dim) AS sigmas
       |  FROM '$kmeansStatsPath/*.parquet'),
       |cents AS MATERIALIZED (SELECT cluster, centroid FROM '$kmeansCentsPath/*.parquet'),
       |scaled AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         list_transform(generate_series(1, len(e.embedding)),
       |           i -> (CAST(e.embedding[i] AS DOUBLE) - sv.mus[i]) / sv.sigmas[i]) AS se
       |  FROM embeddings e CROSS JOIN sv),
       |scored AS MATERIALIZED (
       |  SELECT s.vec_id, c.cluster,
       |         list_sum(list_transform(generate_series(1, len(s.se)),
       |           i -> (s.se[i]-c.centroid[i])*(s.se[i]-c.centroid[i]))) AS d2
       |  FROM scaled s CROSS JOIN cents c),
       |own AS (SELECT vec_id, cluster, d2 AS a2 FROM (
       |  SELECT vec_id, cluster, d2,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS ark
       |  FROM scored) WHERE ark = 1),
       |oth AS (SELECT s.vec_id, min(s.d2) AS b2
       |        FROM scored s JOIN own o ON o.vec_id = s.vec_id AND s.cluster <> o.cluster
       |        GROUP BY s.vec_id),
       |sb AS (SELECT o.cluster,
       |         CASE WHEN t.b2 = 0 THEN 0
       |              ELSE CAST(floor((1.0 - sqrt(o.a2 / t.b2)) * 10000.0) AS BIGINT) END AS s_bp
       |       FROM own o JOIN oth t ON t.vec_id = o.vec_id)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(s_bp) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_sbp
       |FROM sb GROUP BY cluster""".stripMargin

  /** O-52's core, oracle-checked (r13): the Ward merge SEQUENCE over the
    * exported micro-cluster centroids — (step, slotA, slotB, height,
    * size) for each of the k−1 agglomerations. The DuckDB twin replays
    * the whole linkage from the SAME centroid export with a recursive
    * CTE carrying the active-cluster list: per step it enumerates all
    * pairs, computes the closed-form Ward distance with the exact
    * expression tree of [[graft.operators.clustering.Ward.linkageTrace]]
    * (2.0·si·sj/(si+sj)·Σ(ciₖ−cjₖ)² left-assoc, index-order sum), picks
    * the (d, i, j)-lexicographic minimum (= the Scala scan's strict-<
    * first-pair tie-break), and splices in the weighted centroid
    * ((ci·wl + cj·wr)/(wl+wr) per dim, same two ops).
    *
    * Twin viability bound (ADVICE r13): the CTE replay is
    * O(steps × pairs × dim) list-lambda work — ~3·10⁶ lambda evals at the
    * bench SFs (k≈120-150 micro-clusters, seconds in DuckDB) but ~10¹⁰ at
    * the reference's ≤800-centroid contract, where the oracle check
    * itself becomes impractical. The twin is the VERIFICATION harness,
    * not the operator: past k≈200, verify a capped prefix of the merge
    * sequence (`WHERE step <= N` on both sides) — the engine-side
    * linkageTrace is unaffected.
    */
  private val wardDendro: Q = (s, d) => {
    val bt = built(s, d)
    val trace = graft.operators.clustering.Ward.linkageTrace(bt.centers)._2
    val sp = s
    import sp.implicits._
    trace.map(m => (m.step.toLong, m.slotA.toLong, m.slotB.toLong, m.dist, m.size.toLong))
      .toDF("step", "slot_a", "slot_b", "dist", "size")
      .select(col("step"), col("slot_a"), col("slot_b"),
        (round(col("dist"), 6) + lit(0.0)).as("dist"), col("size"))
  }

  // The KMeans→Ward build is deterministic per (session, dir); memoize it
  // so q_graph_build and q_graph_children don't each rerun the clustering
  // (library-level reuse, same as a user holding on to the built tables).
  // Release unpersists the build-time caches the tables ride on.
  private val builtCache = graft.SessionCache.artifact[GraphBuild.GraphTables](
    "graph_tree")(_.persisted.foreach(_.unpersist()))
  private def built(s: SparkSession, d: String): GraphBuild.GraphTables =
    // keyed by (session, dir): cached DataFrames are session-bound and
    // must not leak across a session restart in the same JVM
    builtCache.getOrElseUpdate(s, d) {
      val bt = GraphBuild.build(Tables.embeddings(s, d), "vec_id", "embedding")
      // exports ride the build memo (ADVICE r13): written once per
      // (session, dir) with the build, not on every o51/ward rep —
      // the ivfIndex/nswIndex export pattern
      writeKmeansExports(s, bt)
      writePreTree(s, bt.preRows, preTreePath)
      writeGraphExport(bt.graph)
      bt
    }

  /** Bench artifact hooks (r11 — VERDICT r10 #4): Bench clears all memos
    * at the start of each interleaved pass and runs these as explicit
    * `build_*` entries, so the one-time KMeans→Ward build and the
    * depth-partitioned table write are each timed cold exactly once per
    * pass and every dependent query (o51, q_graph_build,
    * q_graph_children, q_serve_children_pruned) measures serving work
    * over the memoized artifact — library semantics: build once, query
    * many times.
    */
  // rebuildTree ALIASES the q_graph_build lambda (a def: `build` is
  // declared below and object vals initialize top-down) so the bench
  // entry and the query can never measure different builds.
  private[graft] def rebuildTree: Q = build

  private[graft] val rebuildDepthTable: Q = (s, d) =>
    s.read.parquet(depthTable(s, d)).select(col("id"))

  /** O-52+O-53: the full KMeans→Ward→rebalance→flatten build —
    * hash-checked since r14 via the pre-tree export + rebalance replay
    * (see [[rebalanceReplaySql]]); structural invariants — depth ≤ 5,
    * member conservation, rollup counts — additionally asserted in
    * ScalaTest. Distance is rounded HERE (query projection), not in the
    * shared graph table other queries consume.
    */
  private val build: Q = (s, d) =>
    built(s, d).graph.select(col("id"), col("path"), col("name"),
      col("type"), col("children_count"), col("depth"), col("count"),
      (round(col("distance"), 6) + lit(0.0)).as("distance"))

  /** Where the real tree is exported for the q_graph_children oracle.
    * Fixed name under tmpdir: the oracle SQL is a static string dumped
    * by Verify (no data-dir parameter), and one Verify invocation covers
    * exactly one data dir, so the last export always corresponds to the
    * dump being checked. Evaluated lazily so Bench's tmpdir move (to
    * /dev/shm) happens first in either entry point.
    */
  private def graphExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_graph_export").toString

  /** The built tree as data for the q_graph_children oracle: nodes plus
    * a (child, parent) edge list derived by a SELF-JOIN on the stripped
    * parent path. Written once per build, with the other exports.
    */
  private def writeGraphExport(g: DataFrame): Unit = {
    val parents = g.select(col("path").as("_ppath"), col("id").as("parent_id"))
    val edges = g.filter(col("id") =!= 1L)
      .withColumn("_parent_path", regexp_replace(col("path"), "\\.[0-9]+$", ""))
      .join(parents, col("_parent_path") === col("_ppath"))
      .select(col("id"), col("parent_id"))
    g.join(edges, Seq("id"), "left")
      .select(col("id"), col("path"), col("name"), col("type"),
        col("children_count"), col("depth"), col("count"),
        coalesce(col("parent_id"), lit(0L)).as("parent_id"))
      .coalesce(1).write.mode("overwrite").parquet(graphExportPath)
  }

  /** E2 on the REAL built tree: children of the root.
    *
    * Graduated from rows-only in r10 (VERDICT r9 #6) by re-deriving the
    * §5.4 fence boundary: what is NOT SQL-replayable is the KMeans
    * centroid geometry; the TREE itself is deterministic data once
    * built, and the SERVING semantics over it are plain relational
    * logic. So the build memo exports the tree as data
    * ([[writeGraphExport]]) and the oracle recomputes children-of-root
    * from the export with a DuckDB RECURSIVE CTE over the edges, level
    * 1. The two sides take genuinely different routes to the same rows:
    * Spark serves via the ltree prefix-match + depth predicate
    * ([[GraphBuild.childrenOf]]); DuckDB walks parent_id edges that
    * never look at the path prefix. A bug in either the path
    * materialization, the edge derivation, or the serving predicate
    * flips the hash. Only the centroid half (o51_kmeans, q_graph_build's
    * distance column) remains fenced.
    */
  private val buildChildren: Q = (s, d) => GraphBuild.childrenOf(built(s, d).graph, 1L)

  private def buildChildrenSql: String =
    s"""WITH RECURSIVE nodes AS (
       |  SELECT * FROM '$graphExportPath/*.parquet'
       |), walk(id, lvl) AS (
       |  SELECT id, 1 FROM nodes WHERE parent_id = 1
       |  UNION ALL
       |  SELECT n.id, w.lvl + 1 FROM nodes n JOIN walk w ON n.parent_id = w.id
       |)
       |SELECT n.id, n.path, n.name, n.type, n.children_count, n.count
       |FROM nodes n JOIN walk w ON n.id = w.id WHERE w.lvl = 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "o07_graph_ids" -> o07,
    "o08_point_lookup" -> o08,
    "q_serve_children_e2" -> e2,
    "q_serve_children_pruned" -> e2Pruned,
    "q_serve_movie_e3" -> e3,
    "o51_kmeans" -> o51,
    "q_prune_prototypes" -> prune,
    "q_cluster_keywords" -> clusterKeywords,
    "q_cluster_silhouette" -> silhouette,
    "q_ward_dendrogram" -> wardDendro,
    "q_graph_build" -> build,
    "q_graph_children" -> buildChildren)

  val oracle: Map[String, String] = Map(
    "o07_graph_ids" -> s"SELECT * FROM $o07Sql",
    "o08_point_lookup" ->
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
    "q_serve_children_e2" ->
      s"""SELECT g.id, g.path, g.name, g.type, g.children_count
         |FROM $o07Sql g,
         |     (SELECT path AS ppath, depth AS pdepth FROM $o07Sql WHERE id = 3) p
         |WHERE g.path LIKE p.ppath || '.%' AND g.depth = p.pdepth + 1""".stripMargin,
    "q_serve_children_pruned" ->
      s"""SELECT g.id, g.path, g.name, g.type, g.children_count
         |FROM $o07Sql g,
         |     (SELECT path AS ppath, depth AS pdepth FROM $o07Sql WHERE id = 3) p
         |WHERE g.path LIKE p.ppath || '.%' AND g.depth = p.pdepth + 1""".stripMargin,
    "q_serve_movie_e3" ->
      """SELECT doc_id, source, dim, round(x, 6) + 0.0 AS x FROM (
        |  SELECT d.doc_id, d.source,
        |         unnest(generate_series(1, len(e.embedding))) AS dim,
        |         unnest(list_transform(e.embedding, v -> CAST(v AS DOUBLE))) AS x
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |  WHERE d.doc_id < 10)""".stripMargin,
    "q_graph_children" -> buildChildrenSql,
    "q_prune_prototypes" -> pruneSql,
    "q_cluster_keywords" -> clusterKeywordsSql,
    "q_cluster_silhouette" -> silhouetteSql,
    // o51 replay over the stats + centroid exports (r13): scaling and
    // assignment mirror GraphBuild.scaleWith + AnnIvf.assignNearestArr
    // EXACTLY — (CAST(x AS DOUBLE) − mu) / sigma per dim, squared-L2 in
    // index order, strict-< ⇒ row_number tie-break to lowest cluster.
    "o51_kmeans" ->
      s"""WITH sv AS (
         |  SELECT list(mu ORDER BY dim) AS mus, list(sigma ORDER BY dim) AS sigmas
         |  FROM '$kmeansStatsPath/*.parquet'),
         |cents AS (SELECT cluster, centroid FROM '$kmeansCentsPath/*.parquet'),
         |scaled AS (
         |  SELECT e.vec_id,
         |         list_transform(generate_series(1, len(e.embedding)),
         |           i -> (CAST(e.embedding[i] AS DOUBLE) - sv.mus[i]) / sv.sigmas[i]) AS se
         |  FROM embeddings e CROSS JOIN sv)
         |SELECT vec_id, cluster FROM (
         |  SELECT s.vec_id, c.cluster,
         |         row_number() OVER (PARTITION BY s.vec_id
         |           ORDER BY list_sum(list_transform(generate_series(1, len(s.se)),
         |             i -> (s.se[i]-c.centroid[i])*(s.se[i]-c.centroid[i]))), c.cluster) AS ark
         |  FROM scaled s CROSS JOIN cents c)
         |WHERE ark = 1""".stripMargin,
    // Ward replay (r13): the recursive CTE carries the active-cluster
    // list; see wardDendro's doc for the exact-FP correspondence.
    // Validated bit-exact against a step mirror before wiring.
    "q_ward_dendrogram" ->
      s"""WITH RECURSIVE
         |cents AS (SELECT cluster, centroid FROM '$kmeansCentsPath/*.parquet'),
         |init AS (
         |  SELECT 0 AS step, 0 AS slot_a, 0 AS slot_b, CAST(0.0 AS DOUBLE) AS dist, 0 AS msize,
         |         list(struct_pack(slot := cluster, c := centroid, sz := 1) ORDER BY cluster) AS state
         |  FROM cents),
         |ward AS (
         |  SELECT * FROM init
         |  UNION ALL
         |  SELECT step+1 AS step,
         |         state[best.pi].slot AS slot_a, state[best.pj].slot AS slot_b,
         |         sqrt(best.d) AS dist,
         |         state[best.pi].sz + state[best.pj].sz AS msize,
         |         state[1:best.pi-1] ||
         |           [struct_pack(slot := state[best.pi].slot,
         |                        c := list_transform(generate_series(1, len(state[best.pi].c)),
         |                              k -> (state[best.pi].c[k]*wl + state[best.pj].c[k]*wr)/(wl+wr)),
         |                        sz := state[best.pi].sz + state[best.pj].sz)] ||
         |           state[best.pi+1:best.pj-1] || state[best.pj+1:] AS state
         |  FROM (
         |    SELECT step, state, best,
         |           CAST(state[best.pi].sz AS DOUBLE) AS wl,
         |           CAST(state[best.pj].sz AS DOUBLE) AS wr
         |    FROM (
         |      SELECT step, state,
         |             list_sort(flatten(list_transform(generate_series(1, len(state)-1),
         |               i -> list_transform(generate_series(i+1, len(state)),
         |                 j -> struct_pack(
         |                   d := 2.0*state[i].sz*state[j].sz/(state[i].sz+state[j].sz) *
         |                        list_sum(list_transform(generate_series(1, len(state[i].c)),
         |                          k -> (state[i].c[k]-state[j].c[k])*(state[i].c[k]-state[j].c[k]))),
         |                   pi := i, pj := j)))))[1] AS best
         |      FROM ward WHERE len(state) > 1)))
         |SELECT CAST(step AS BIGINT) AS step, CAST(slot_a AS BIGINT) AS slot_a,
         |       CAST(slot_b AS BIGINT) AS slot_b, round(dist, 6) + 0.0 AS dist,
         |       CAST(msize AS BIGINT) AS size
         |FROM ward WHERE step > 0""".stripMargin,
    // q_graph_build graduated r14 (VERDICT r13 #1): the §5.4 fence is
    // now ONLY centroid geometry, fully covered by the o51/ward exports
    // upstream — the tree shaping (rebalance + flatten + deterministic
    // naming) replays from the pre-tree export. q_graph_children
    // graduated r10, o51_kmeans + q_ward_dendrogram r13.
    "q_graph_build" -> rebalanceReplaySql(preTreePath))
}
