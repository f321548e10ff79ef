package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Whole-graph analytics over graphs the engine already materializes —
  * the batch-iterative layer that sits next to the traversal serving
  * surface (reference anchor: the cluster graph the reference builds and
  * serves, `graph_creator.py` / SURVEY §2.7; PageRank/triangles are the
  * standard curation signals computed over such graphs at corpus scale).
  *
  *  - `q_graph_pagerank`: PageRank over the bipartite customer↔supplier
  *    purchase graph (both directions of every distinct trading pair, so
  *    rank flows and no node dangles). Fixed [[PrIters]] synchronous
  *    iterations; each iteration is ONE equi-join of the edge list with
  *    the current rank table plus one map-side-combined sum — the Pregel
  *    shape. At cluster scale the edge list is hash-partitioned on `src`
  *    once and every iteration reuses that partitioning; the rank table
  *    is tiny relative to edges (one row per node). The driver loop
  *    holds ONLY the iteration counter — no data ever collects.
  *  - `q_graph_triangles`: per-node triangle counts on the MinHash-LSH
  *    document similarity graph (the q_dedup_minhash candidate pairs —
  *    near-dup cliques make triangle density a direct dedup-cluster
  *    signal). Canonical a<b<c edge orientation counts each triangle
  *    once with two equi-joins (the node-iterator shape); degrees are
  *    bounded by the LSH band construction (BucketCap guards the
  *    adversarial case), so the join fan-out is bounded at scale.
  *
  * Oracle-parity design: PageRank is EXACT INTEGER arithmetic end to
  * end — ranks are scaled BIGINTs (Σ ranks ≈ 10¹²), per-edge
  * contribution is `rank DIV outdeg`, damping is basis points
  * (`d = 8500`), so every sum is order-independent and both engines
  * truncate identically (all operands positive: trunc == floor == DuckDB
  * `//`). The twin unrolls the fixed iterations as chained CTEs —
  * no recursion, no aggregate-in-recursive-term limits. Triangles are
  * pure joins over the already-proven minhash pair SQL.
  */
object GraphAnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  private[graft] val PrIters = 6
  private val PrScale = 1000000000000L // total rank mass 10^12
  private val DampBp = 8500L           // d = 0.85 in basis points

  // ---- PageRank over the purchase graph ----

  /** Directed edge list: customer c and supplier s trade ⇒ c→s and s→c.
    * Node ids are parity-tagged (cust·2, supp·2+1) so the two id spaces
    * cannot collide.
    */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The persisted purchase graph PageRank iterates over: the edge list
    * joined with per-src outdegree, hash-partitioned on `src` once
    * (`edges`), the one-row-per-node degree table (`deg`), and the node
    * count. Memoized per (session, dir) like the IVF/BM25 artifacts —
    * a user builds the graph once and ranks many times; Bench times the
    * build as an explicit `build_pagerank_edges` entry (r15, VERDICT r14
    * #3: edge build + distinct + persist was ~2/3 of every pagerank rep).
    */
  private[graft] case class PrGraph(edges: DataFrame, deg: DataFrame, nNodes: Long)

  private val prCache = graft.SessionCache.artifact[PrGraph]("pagerank_graph") {
    g => g.edges.unpersist(); g.deg.unpersist()
  }

  private[graft] def prGraph(s: SparkSession, d: String): PrGraph =
    prCache.getOrElseUpdate(s, d) {
      // the raw pair list feeds both the degree agg and the edge join —
      // persisted transiently for the build, dropped before returning
      val e = purchaseEdges(s, d).persist()
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
      // persisted HASH-PARTITIONED on src: all iteration joins read the
      // cache's partitioning — only the (tiny) rank table shuffles per
      // iteration, the edge list never moves again. This is the cluster
      // shape too: partition the 100 TB edge list once, iterate in place.
      val edgesD = e.join(deg, "src").repartition(col("src")).persist()
      val nNodes = deg.count() // one scalar; the only driver-side value
      edgesD.count()           // materialize before the pair list is freed
      e.unpersist()
      PrGraph(edgesD, deg, nNodes)
    }

  /** Bench artifact hook: builds (or re-materializes) the memoized
    * purchase graph so `q_graph_pagerank` reps measure ITERATION work
    * over the warm graph, and the one-time build cost is timed exactly
    * once per pass (the r11 artifact-split rule).
    */
  private[graft] val rebuildEdges: Q = (s, d) => prGraph(s, d).edges

  private val pagerank: Q = (s, d) => {
    val g = prGraph(s, d)
    val edgesD = g.edges
    val nNodes = g.nNodes
    val base = PrScale / nNodes // integer floor == the twin's 10^12 // n
    // Each iteration's rank table is consumed exactly once (by the next
    // iteration), so the whole fixed-iteration computation is ONE lazy
    // plan — no per-iteration materialization, one optimized job at the
    // end (per-iteration persist+count measured 3.7× slower). Every node
    // has indegree ≥ 1 by the symmetric-edge construction, so the
    // contribution aggregate already covers all nodes — no re-join
    // against the node table.
    // Lineage is cut by an EAGER localCheckpoint every third iteration:
    // the rank table is one small row per node, and bounding plan depth
    // at 3 keeps Catalyst + codegen cost per materialization small —
    // the full 6-deep chain re-pays optimization of the whole history at
    // every execution (measured med 6.2 s nested vs 1.7 s cadence-3),
    // while checkpointing EVERY iteration pays 6 eager jobs where 2
    // suffice (r15 A/B over the warm edge memo: min 2.08 s cadence-1,
    // 1.67 cadence-2, 1.63 cadence-3). The standard iterative-dataflow
    // shape (GraphX/Pregel checkpoint cadence); values are unaffected
    // by materialization.
    var ranks = g.deg.select(col("src").as("node"), lit(base).as("r"))
    for (i <- 1 to PrIters) {
      ranks = edgesD.join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy("dst").agg(sum(expr("r DIV outdeg")).as("c"))
        .select(col("dst").as("node"), expr(
          s"((10000 - $DampBp) * ${base}L + $DampBp * c) DIV 10000").as("r"))
      if (i < PrIters && i % 3 == 0) ranks = ranks.localCheckpoint()
    }
    ranks.orderBy(col("r").desc, col("node")).limit(20)
      .select(col("node"), col("r").as("rank"))
  }

  // integer division: Spark `a DIV b` == DuckDB `a // b` for positive
  // operands; the damping expression is all-positive by construction.
  private val pagerankSql: String = {
    val chain = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         CAST(((10000 - $DampBp) * (SELECT base FROM n)
         |          + $DampBp * sum(r // outdeg)) // 10000 AS BIGINT) AS r
         |  FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ep AS (
       |  SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM ep
       |      UNION ALL SELECT s AS src, c AS dst FROM ep),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |n AS (SELECT $PrScale // count(*) AS base FROM deg),
       |r0 AS (SELECT src AS node, (SELECT base FROM n) AS r FROM deg),
       |$chain
       |SELECT node, r AS rank FROM r$PrIters
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---- Triangle counts on the similarity graph ----

  private val triangles: Q = (s, d) => {
    // candidate pairs a<b from the proven LSH band join; persisted —
    // three join legs read it
    val pairs = graft.Scratch.persist(DedupQueries.minhash(s, d))
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e2.doc_a") === col("e1.doc_b"))
      .join(pairs.as("e3"),
        col("e3.doc_a") === col("e1.doc_a") && col("e3.doc_b") === col("e2.doc_b"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
        col("e2.doc_b").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("tri_count"))
  }

  private val trianglesSql: String =
    s"""WITH pairs AS (${DedupQueries.minhashSql}),
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.doc_a = e1.doc_b
       |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
       |SELECT doc_id, count(*) AS tri_count
       |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
       |GROUP BY doc_id""".stripMargin

  // ---- Label-propagation communities on the similarity graph ----
  // Synchronous LPA (Raghavan et al. 2007), [[LpaIters]] fixed rounds:
  // every node starts as its own label and adopts the most frequent
  // label among its neighbors AND itself each round (tie → smallest
  // label). The self-vote is load-bearing, not a flourish: an isolated
  // pair edge u—v under pure neighbor voting SWAPS labels every
  // synchronous round (u:v, v:u → u:u, v:v → …) and never converges —
  // and isolated pairs dominate an LSH near-dup graph; with the
  // self-vote the tie on each side resolves to min(u, v) in one round
  // (the keeper=min-id convention the dedup family already uses). On
  // the LSH graph the converged labels ARE the dup-cluster assignment —
  // the soft-clustering complement to q_dedup_cc's exact connected
  // components (LPA splits chains that CC merges). Determinism: fixed
  // synchronous iterations over exact integers, argmax by (count desc,
  // label asc) — no convergence test, no randomized node order.
  //
  // Scale shape: each round is ONE equi-join of the (bounded, BucketCap-
  // guarded) edge list with the one-row-per-node label table plus two
  // map-side-combined aggregations — the Pregel shape again; the label
  // table is what shuffles, never the corpus. The per-(node, label)
  // argmax is a groupBy max(struct), NOT a window — nothing funnels.
  private[graft] val LpaIters = 4

  /** The symmetrized LSH near-dup graph (both directions of the
    * persisted canonical pair list) — ONE home for the edge contract
    * shared by communities and kcore (r17 review: it had drifted into
    * per-query copies). Rides a Scratch-persisted pair frame; callers
    * persist the union themselves where it is re-consumed per round.
    */
  private def undirectedLsh(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.Scratch.persist(DedupQueries.minhash(s, d))
    pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionAll(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
  }

  /** The shared twin prelude: MATERIALIZED canonical pairs + the
    * symmetrized `und(a, b)` view.
    */
  private def undSql: String =
    s"""pairs AS MATERIALIZED (${DedupQueries.minhashSql}),
       |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs)""".stripMargin

  // LPA nodes are drawn from the dedup corpus (docs + one mutant per
  // doc), so 2 × |documents| bounds the label-table row count; 10M
  // rows of (node, label) longs ≈ 160 MB broadcast — the documented
  // upper end of comfortable (guide §3.1). The stat is catalog state
  // (the Stats precedent), one count per (session, dir).
  private[graft] val LpaBroadcastMaxNodes = 10000000L
  private def lpaNodesUpperBound(s: SparkSession, d: String): Long =
    2L * graft.Stats.scalar(s, d, "documents.count") {
      Tables.documents(s, d).count()
    }

  private val communities: Q = (s, d) => lpaCommunities(s, d)

  /** The LPA rounds of q_graph_communities. The round's join shape is
    * chosen by the node-bound gate below; `broadcastLabels` forces it
    * one way, so a test can compare the two shapes' rows.
    */
  private[graft] def lpaCommunities(s: SparkSession, d: String,
      broadcastLabels: Option[Boolean] = None): DataFrame = {
    // persisted pairs inside the helper: the symmetrized edge view is
    // consumed once per round
    val und = undirectedLsh(s, d)
    // the self-vote rides the edge list as one self-loop per node.
    // g itself is persisted too (r15): it is consumed once per round,
    // and unpersisted it re-ran the node-distinct 4× (probe: ~0.2 s of
    // each round was rebuilding the same self-loop union).
    // persisted HASH-PARTITIONED on a (r19): the cached partitioning is
    // what every round's post-join aggregations reuse — see the loop.
    val g = graft.Scratch.persist(und.unionAll(
      und.select(col("a")).distinct().select(col("a"), col("a").as("b")))
      .repartition(col("a")))
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    // loop-INVARIANT shape choice, hoisted (r19 review): the gate's
    // input (the memoized node bound) cannot change mid-query, and
    // rounds must never pick different join shapes.
    val useBcast = broadcastLabels.getOrElse(
      lpaNodesUpperBound(s, d) <= LpaBroadcastMaxNodes)
    for (i <- 1 to LpaIters) {
      // max(struct(c, -label)) = lexicographic argmax: highest count,
      // then smallest label — one aggregate, no per-node sort.
      // r19 opt (guide §2.4, extending the r18 one-exchange shape): g is
      // persisted hash-partitioned on a, the label join is a broadcast
      // (stream side = g keeps that partitioning), so the (a,label)
      // count AND the per-a argmax both satisfy their ClusteredDistribution
      // from the CACHE's partitioning — ZERO exchanges per round where
      // r18 paid one explicit repartition per round (and, unlike that
      // shape, the count keeps its map-side partial aggregation).
      // label table EXPLICITLY broadcast below the gate: it is
      // node-scale but carries no stats after a checkpoint, so the
      // planner otherwise broadcasts the (stats-bearing, cached) edge
      // side and streams labels — losing the cache's a-partitioning
      // the aggregations need. The hint is GATED on the node-count
      // upper bound (the prefixSum adaptive-branch precedent): forcing
      // a broadcast of a billion-row label table would OOM, so past
      // the bound the round falls back to the r18 shuffle-join +
      // repartition(a) shape, which the planner sizes itself.
      val lbl = labels.withColumnRenamed("node", "b")
      val joined =
        if (useBcast) g.join(broadcast(lbl), "b")
        else g.join(lbl, "b").repartition(col("a"))
      labels = joined
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("a").as("node"), (-col("m.nl")).as("label"))
      // same plan-depth bound as pagerank: cut lineage mid-chain so no
      // execution re-optimizes the full iteration history (cadence A/B
      // at sf0.1: 2.62 s with the cut vs 3.16 s letting 4 rounds nest)
      if (i < LpaIters && i % 2 == 0) labels = labels.localCheckpoint()
    }
    labels.select(col("node").as("doc_id"), col("label").as("community"))
  }

  // Twin: unrolled chained CTEs (the pagerank precedent — no recursion,
  // so windows are allowed); argmax via row_number in a nested subquery.
  private val communitiesSql: String = {
    val chain = (1 to LpaIters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |    FROM (SELECT e.a AS node, l.label, CAST(count(*) AS BIGINT) AS c
         |          FROM g e JOIN l${i - 1} l ON l.node = e.b
         |          GROUP BY e.a, l.label)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undSql,
       |g AS MATERIALIZED (SELECT a, b FROM und
       |      UNION ALL SELECT DISTINCT a, a AS b FROM und),
       |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
       |$chain
       |SELECT node AS doc_id, label AS community FROM l$LpaIters""".stripMargin
  }

  // ---- k-core peeling of the LSH similarity graph (r17, VERDICT r16
  // #4) ----
  // The template-farm / boilerplate-hub audit signal next to
  // CC/LPA/triangles: iteratively remove nodes whose degree in the
  // surviving subgraph is < k until the k-core remains. Bounded-round
  // synchronous peeling (the pagerank/LPA convention — a FIXED round
  // count keeps both engines on the same deterministic computation;
  // KCoreSpec asserts a further round is a no-op at the bench SFs, so
  // the bounded peel IS the true 2-core there). Per round: two
  // left-semi joins restrict the persisted edge list to surviving
  // endpoints, one map-side-combined degree aggregation, filter ≥ k —
  // the Pregel join-per-round shape; the node set shrinks
  // monotonically, the corpus never reshuffles. Output = the core's
  // nodes with their in-core degree.
  private[graft] val KCoreK = 2L
  private[graft] val KCoreRounds = 6

  private val kcore: Q = (s, d) => {
    // persisted HASH-PARTITIONED on a (r19): each round's degree
    // aggregation groups by a over the (broadcast-semi-joined) cached
    // edges — with the cache partitioned on a the per-round exchange
    // disappears (the alive-b semi-join is a broadcast, so the stream
    // side keeps the cache's partitioning into the aggregation).
    val und = graft.Scratch.persist(undirectedLsh(s, d).repartition(col("a")))
    var alive: DataFrame = null
    var degs: DataFrame = null
    for (i <- 1 to KCoreRounds) {
      // r18 opt (guide §2.4/§3): one EDGE-sized semi-join per round
      // (restrict neighbours to alive b), then intersect the NODE-sized
      // degree table with alive a — output-identical to filtering both
      // endpoints before the aggregation (a surviving a's alive-b count
      // is unchanged; a dead a is dropped by the node-sized semi-join),
      // but the second edge-scale join and its broadcast build are gone.
      // A/B at sf0.1: 2.56 s (two edge semi-joins) → see
      // OPTIMIZATION_r18.md for the measured number.
      degs =
        if (alive == null) und.groupBy("a").agg(count(lit(1)).as("degree"))
        else und
          .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
          .groupBy("a").agg(count(lit(1)).as("degree"))
          .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
      alive = degs.filter(col("degree") >= KCoreK).select(col("a").as("node"))
      // same lineage-depth bound as pagerank/LPA
      if (i < KCoreRounds && i % 2 == 0) alive = alive.localCheckpoint()
    }
    degs.filter(col("degree") >= KCoreK)
      .select(col("a").as("doc_id"), col("degree"))
  }

  // Twin: unrolled chained CTEs over the MATERIALIZED pair graph (the
  // communities conventions — un-materialized, DuckDB would re-derive
  // the minhash pipeline once per round).
  private val kcoreSql: String = {
    val chain = (2 to KCoreRounds).map { i =>
      s"""e$i AS (SELECT e.a, e.b FROM g e
         |  JOIN a${i - 1} x ON x.node = e.a JOIN a${i - 1} y ON y.node = e.b),
         |d$i AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
         |        FROM e$i GROUP BY a),
         |a$i AS (SELECT node FROM d$i WHERE degree >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undSql,
       |g AS MATERIALIZED (SELECT a, b FROM und),
       |d1 AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
       |       FROM g GROUP BY a),
       |a1 AS (SELECT node FROM d1 WHERE degree >= $KCoreK),
       |$chain
       |SELECT node AS doc_id, degree FROM d$KCoreRounds
       |WHERE degree >= $KCoreK""".stripMargin
  }

  // ---- link prediction on the LSH similarity graph (r17) ----
  // The missing-edge audit next to CC/LPA/triangles/k-core: which
  // UNCONNECTED doc pairs share so many near-dup neighbours that the
  // banding probably missed them (LSH is probabilistic — a true
  // near-dup pair survives a band with probability < 1, but its
  // neighbourhoods still overlap). The standard q_dedup_minhash corpus
  // (base + one mutant) yields an almost-pure matching — no distance-2
  // structure to predict over (0 candidates at sf0.001; single-token
  // drops leave J ≈ 0.96 between the mutants, so every triangle edge
  // bands and every distance-2 pair is already connected) — so this
  // query runs the SAME minhash pipeline over a THREE-variant corpus:
  // base, drop-last-QUARTER (+800000), drop-first-QUARTER (+900000).
  // Each fragment keeps J ≈ 0.75 with its base (bands almost surely);
  // the two fragments share only the middle half (J ≈ 0.53), which the
  // 4×2 banding misses for a third of pairs — the planted recoverable
  // signal at every SF. Common-neighbours via ONE distance-2 self-join
  // of the symmetrized edge list (edges are distinct, so path rows are
  // distinct and count(*) IS the distinct-m count), existing edges
  // removed by an anti-join on the canonical pair list, scored with
  // integer Jaccard over neighbourhoods cn·10⁴ DIV (deg_a+deg_b−cn),
  // top-[[LinkPredK]] by (score, cn, a, b) — a TakeOrderedAndProject,
  // never a global sort. Scale: the path join is bounded by Σ_m deg(m)²
  // over an LSH graph whose per-node degree is corpus-independent here
  // (each base links to its two fragments); as with q_dedup_minhash,
  // the DECLARED pipeline joins the band table uncapped — on a corpus
  // with a hot band bucket, `operators/BucketCap.cap` is the documented
  // upstream guard (exercised in ScaleOpsSpec) that bounds deg before
  // the distance-2 join. The edge list, not the corpus, is what
  // shuffles.
  private[graft] val LinkPredK = 100

  private[graft] def linkCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("n", size(split(col("text"), " ")))
      .withColumn("q", expr("n DIV 4"))
    docs.select(col("doc_id"), col("text"))
      .unionAll(docs.select((col("doc_id") + 800000L).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, n - q), ' ')").as("text")))
      .unionAll(docs.select((col("doc_id") + 900000L).as("doc_id"),
        expr("array_join(slice(split(text, ' '), q + 1, n - q), ' ')").as("text")))
  }

  private val linkSrcSql: String =
    """(WITH dq AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
      |                    len(string_split(text, ' ')) // 4 AS q
      |             FROM documents)
      | SELECT doc_id, text FROM dq
      | UNION ALL SELECT doc_id+800000 AS doc_id,
      |        array_to_string(toks[1:len(toks)-q], ' ') AS text FROM dq
      | UNION ALL SELECT doc_id+900000 AS doc_id,
      |        array_to_string(toks[q+1:len(toks)], ' ') AS text FROM dq)""".stripMargin

  private val linkPredict: Q = (s, d) => {
    // canonical pairs persisted (path join needs the symmetrized view
    // twice, the anti-join needs the canonical list), band table
    // persisted inside as in q_dedup_minhash
    val pairs = graft.Scratch.persist(DedupQueries.bandPairs(
      graft.Scratch.persist(DedupQueries.minhashBands(linkCorpus(s, d)))))
    val und = graft.Scratch.persist(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionAll(pairs.select(col("doc_b").as("a"), col("doc_a").as("b"))))
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
      .select(col("a").as("node"), col("deg"))
    val cn = und.select(col("a"), col("b").as("m"))
      .join(und.select(col("a").as("m2"), col("b").as("c")), col("m2") === col("m"))
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c").as("b"))
      .agg(count(lit(1)).as("cn"))
    val cand = cn.join(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")),
      Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("dega"), col("degb"),
        expr("(cn * 10000) DIV (dega + degb - cn)").as("jac_bp"))
      .orderBy(col("jac_bp").desc, col("cn").desc, col("a"), col("b"))
      .limit(LinkPredK)
  }

  private val linkPredictSql: String =
    s"""WITH pairs AS MATERIALIZED (${DedupQueries.minhashSqlOver(linkSrcSql)}),
       |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |g AS MATERIALIZED (SELECT a, b FROM und),
       |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM g GROUP BY a),
       |cn AS (
       |  SELECT e1.a, e2.b, CAST(count(*) AS BIGINT) AS cn
       |  FROM g e1 JOIN g e2 ON e2.a = e1.b AND e1.a < e2.b
       |  GROUP BY e1.a, e2.b),
       |cand AS (
       |  SELECT cn.a, cn.b, cn.cn
       |  FROM cn ANTI JOIN pairs p ON p.doc_a = cn.a AND p.doc_b = cn.b)
       |SELECT c.a, c.b, c.cn, da.deg AS dega, db.deg AS degb,
       |       CAST((c.cn * 10000) // (da.deg + db.deg - c.cn) AS BIGINT) AS jac_bp
       |FROM cand c
       |JOIN deg da ON da.node = c.a
       |JOIN deg db ON db.node = c.b
       |ORDER BY jac_bp DESC, c.cn DESC, c.a, c.b LIMIT $LinkPredK""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_graph_pagerank" -> pagerank,
    "q_graph_triangles" -> triangles,
    "q_graph_communities" -> communities,
    "q_graph_kcore" -> kcore,
    "q_link_predict" -> linkPredict)

  val oracle: Map[String, String] = Map(
    "q_graph_pagerank" -> pagerankSql,
    "q_graph_triangles" -> trianglesSql,
    "q_graph_communities" -> communitiesSql,
    "q_graph_kcore" -> kcoreSql,
    "q_link_predict" -> linkPredictSql)
}
