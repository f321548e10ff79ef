package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AnnIvf
import graft.operators.clustering.{GraphBuild, TreeOps, Ward}

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  test("cluster_keywords: dense top-5 per cluster, scores non-increasing, tf covered") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_cluster_keywords")(spark, sf)
      .collect().groupBy(_.getAs[Int]("cluster"))
    Scratch.release(spark)
    assert(rows.nonEmpty)
    rows.foreach { case (c, rs) =>
      val byRk = rs.sortBy(_.getAs[Long]("rk"))
      assert(byRk.map(_.getAs[Long]("rk")).toSeq == (1L to rs.length),
        s"cluster $c ranks not dense")
      assert(rs.length <= 5, s"cluster $c has ${rs.length} keywords")
      val scores = byRk.map(_.getAs[Long]("score_bp"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"cluster $c scores increase along rank")
      rs.foreach(r => assert(r.getAs[Long]("cdf") >= 1 && r.getAs[Long]("tf") >= 1))
    }
  }

  test("ward merges tight blobs before joining them") {
    val pts = Array(
      Array(0.0, 0.0), Array(0.1, 0.0),    // blob A
      Array(10.0, 10.0), Array(10.1, 10.0)) // blob B
    val root = Ward.linkage(pts).asInstanceOf[Ward.Merge]
    val sides = Seq(root.left.leaves.toSet, root.right.leaves.toSet)
    assert(sides.contains(Set(0, 1)) && sides.contains(Set(2, 3)))
    assert(root.dist > root.left.dist && root.dist > root.right.dist,
      "merge heights must be monotone")
  }

  test("singleton ward distance equals euclidean (scipy init)") {
    val root = Ward.linkage(Array(Array(0.0, 0.0), Array(3.0, 4.0)))
    assert(math.abs(root.dist - 5.0) < 1e-12)
  }

  test("linkageTrace: n-1 steps, slotA<slotB, size accounting, heights match tree") {
    val pts = Array.tabulate(17)(i => Array((i * 37 % 11).toDouble, (i * 53 % 7).toDouble))
    val (root, steps) = Ward.linkageTrace(pts)
    assert(steps.length == pts.length - 1)
    assert(steps.map(_.step) == (1 to steps.length))
    // replay the size bookkeeping: each merge's size is the sum of its
    // two operands' current sizes, and the merged cluster keeps slotA
    val sz = scala.collection.mutable.Map.from((0 until pts.length).map(_ -> 1))
    steps.foreach { m =>
      assert(m.slotA < m.slotB)
      assert(m.size == sz(m.slotA) + sz(m.slotB))
      sz(m.slotA) = m.size; sz.remove(m.slotB)
    }
    assert(sz.keySet == Set(steps.last.slotA) && sz(steps.last.slotA) == pts.length)
    // the trace's heights are exactly the tree's internal-node heights
    def heights(d: Ward.Dendro): Seq[Double] = d match {
      case m: Ward.Merge => heights(m.left) ++ heights(m.right) :+ m.dist
      case _ => Seq.empty
    }
    assert(heights(root).sorted == steps.map(_.dist).sorted)
  }

  test("fromDendro conserves member counts") {
    val root = Ward.linkage(Array(Array(0.0), Array(1.0), Array(10.0)))
    val t = TreeOps.fromDendro(root, Map(0 -> 5L, 1 -> 7L, 2 -> 11L))
    assert(t.count == 23L)
    assert(t.clusters.toSet == Set(0, 1, 2))
  }

  test("rebalance: depth cap turns nodes into leaves; dissolution respects ratio") {
    // chain: root(d=1.0) -> n1(d=0.9) -> n2(d=0.2) -> leaves
    val lf = (i: Int) => TreeOps.TNode("leaf", Seq(i), 1, 0.0, Nil)
    val n2 = TreeOps.TNode("node", Seq(0, 1), 2, 0.2, Seq(lf(0), lf(1)))
    val n1 = TreeOps.TNode("node", Seq(0, 1, 2), 3, 0.9, Seq(n2, lf(2)))
    val root = TreeOps.TNode("node", Seq(0, 1, 2, 3), 4, 1.0, Seq(n1, lf(3)))
    val r = TreeOps.rebalance(root)
    // n1 (0.9/1.0 > 0.65) dissolves into root; n2 (0.2/1.0 < 0.65) survives
    assert(r.children.exists(_.clusters == Seq(0, 1)), "n2 should survive")
    assert(!r.children.exists(_.clusters == Seq(0, 1, 2)), "n1 should dissolve")
    assert(r.count == 4)

    def maxDepth(n: TreeOps.TNode, d: Int = 0): Int =
      if (n.children.isEmpty) d else n.children.map(maxDepth(_, d + 1)).max
    // a 10-deep chain gets capped at 5
    val deep = (1 to 10).foldLeft(lf(0)) { (child, i) =>
      TreeOps.TNode("node", child.clusters, child.count, 0.01 * i, Seq(child))
    }
    assert(maxDepth(TreeOps.rebalance(deep)) <= 5)
  }

  test("flatten: DFS ids, parent-prefixed paths, full assignment") {
    val lf = (i: Int) => TreeOps.TNode("leaf", Seq(i), 2, 0.0, Nil)
    val root = TreeOps.TNode("node", Seq(0, 1, 2), 6, 1.0,
      Seq(lf(0), TreeOps.TNode("node", Seq(1, 2), 4, 0.5, Seq(lf(1), lf(2)))))
    val (rows, assign) = TreeOps.flatten(root)
    assert(rows.map(_.id) == Seq(1L, 2L, 3L, 4L, 5L), "DFS preorder ids")
    assert(rows.head.path == "root" && rows.head.name == "All movies")
    rows.tail.foreach { r =>
      val parentPath = r.path.substring(0, r.path.lastIndexOf('.'))
      assert(rows.exists(_.path == parentPath), s"dangling path ${r.path}")
    }
    assert(assign.keySet == Set(0, 1, 2), "every micro-cluster assigned")
  }

  test("namer loop: validate, retry up to 5, fall back (clustering/utils.py:76-130)") {
    import graft.operators.clustering.Naming
    import graft.operators.clustering.Naming.{Namer, NamingGroup}
    val groups = Seq(NamingGroup(Seq("a"), "0.1"), NamingGroup(Seq("b"), "0.2"))

    // fails twice (throw, then duplicates), succeeds on the third attempt
    var calls = 0
    val flaky = new Namer {
      def propose(p: String, g: Seq[NamingGroup], attempt: Int): Seq[String] = {
        calls += 1
        attempt match {
          case 0 => throw new RuntimeException("llm down")
          case 1 => Seq("Same Name", "Same Name")
          case _ => Seq("Dark Comedy", " Slow Burn ")
        }
      }
    }
    assert(Naming.nameChildren("All movies", groups, flaky) ==
      Seq("Dark_Comedy", "Slow_Burn"))
    assert(calls == 3, "must stop retrying once a proposal validates")

    // never valid (5-word name) -> exhausts 5 attempts -> fallback scheme
    val invalid = new Namer {
      def propose(p: String, g: Seq[NamingGroup], attempt: Int): Seq[String] =
        Seq("one two three four five", "ok name")
    }
    assert(Naming.nameChildren("All movies", groups, invalid) ==
      Seq("All_movies_Subgroup_1", "All_movies_Subgroup_2"))

    // wrong arity is a failed attempt too
    val shortArity = new Namer {
      def propose(p: String, g: Seq[NamingGroup], attempt: Int): Seq[String] = Seq("only one")
    }
    assert(Naming.nameChildren("P", groups, shortArity) ==
      Seq("P_Subgroup_1", "P_Subgroup_2"))
  }

  test("flatten with a custom namer names children; default is unchanged") {
    import graft.operators.clustering.Naming
    val lf = (i: Int) => TreeOps.TNode("leaf", Seq(i), 2, 0.0, Nil)
    val root = TreeOps.TNode("node", Seq(0, 1), 4, 1.0, Seq(lf(0), lf(1)))
    val custom = new Naming.Namer {
      def propose(p: String, g: Seq[Naming.NamingGroup], attempt: Int): Seq[String] =
        g.indices.map(i => s"Theme $i")
    }
    val (rows, _) = TreeOps.flatten(root, custom)
    assert(rows.map(_.name) == Seq("All movies", "Theme_0", "Theme_1"))
    val (defRows, _) = TreeOps.flatten(root)
    assert(defRows.map(_.name) ==
      Seq("All movies", "All_movies_Subgroup_1", "All_movies_Subgroup_2"))
  }

  test("graph build is deterministic across runs (seeded KMeans + Ward tie-breaks)") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 90).map { i =>
      (i.toLong, Array.fill(6)(((i % 3) * 8.0 + rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    def run() = GraphBuild.build(df, "vec_id", "embedding", maxMicro = 15)
      .graph.orderBy("id").collect().map(_.toSeq).toSeq
    assert(run() == run(), "two builds over the same data must be identical")
  }

  test("end-to-end build invariants on separable blobs (SURVEY §5.4)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 120).map { i =>
      val center = (i % 3) * 10.0
      (i.toLong, Array.fill(8)((center + rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val t = GraphBuild.build(df, "vec_id", "embedding", maxMicro = 20)
    val g = t.graph.collect()
    val root = g.find(_.getAs[Long]("id") == 1L).get
    assert(root.getAs[Long]("count") == 120L, "root count = all members")
    assert(g.map(_.getAs[Int]("depth")).max <= 5, "depth cap")
    val leafSum = g.filter(_.getAs[String]("type") == "leaf")
      .map(_.getAs[Long]("count")).sum
    assert(leafSum == 120L, "leaves partition the members")
    assert(t.movies.count() == 120L, "every movie assigned to a leaf")
    assert(t.movies.select("movie_id").distinct().count() == 120L)
    // E2 serving returns exactly the root's children
    val kids = GraphBuild.childrenOf(t.graph, 1L).collect()
    assert(kids.length == root.getAs[Int]("children_count"))
  }

  test("sampled-train path: complete deterministic labels, k centroids (r10)") {
    // Production only engages the sampled quantizer above 50k rows; a
    // tiny sampleFloor forces it here so the branch has real coverage:
    // stride sampling, the in-process fit, full-corpus assignment.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3000).map { i =>
      (i.toLong, Array.fill(4)(((i % 4) * 6.0 + rnd.nextGaussian())))
    }
    val df = rows.toDF("vec_id", "scaled").persist()
    def run() = GraphBuild.microCluster(df, "vec_id", "scaled",
      maxMicro = 12, sampleFloor = 500L)
    val (labels, centers) = run()
    val collected = labels.orderBy("vec_id").collect()
    assert(collected.length == 3000, "every row gets a label")
    assert(collected.map(_.getAs[Long]("vec_id")).toSet.size == 3000)
    val ks = collected.map(_.getAs[Int]("cluster")).toSet
    assert(ks.forall(c => c >= 0 && c < centers.length), "labels in range")
    assert(centers.length <= 12 && centers.length >= 2)
    assert(centers.forall(_.length == 4), "centroid dims")
    // deterministic: seeded random init + deterministic hash-stride sample
    val (labels2, centers2) = run()
    assert(labels2.orderBy("vec_id").collect().map(_.toSeq).toSeq ==
      collected.map(_.toSeq).toSeq)
    assert(centers2.map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq)
    // partitioning-independent: the sample is a hash of the id and the
    // gathered rows are sorted by id before the fit
    val re = df.repartition(7).persist()
    val (_, centers7) = GraphBuild.microCluster(re, "vec_id", "scaled",
      maxMicro = 12, sampleFloor = 500L)
    assert(centers7.map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq)
    re.unpersist()
    df.unpersist()
  }

  test("degenerate KMeans inputs finish with complete labels") {
    // all-identical vectors: total k-means++ weight 0, every cluster but
    // one empty — on both the full and the sampled path
    val same = (0 until 200).map(i => (i.toLong, Array(1.5, -2.0, 0.25))).toDF("vec_id", "scaled")
    for ((maxMicro, floor) <- Seq((5, 50000L), (2, 20L))) {
      val (labels, centers) = GraphBuild.microCluster(same, "vec_id", "scaled",
        maxMicro = maxMicro, sampleFloor = floor)
      val ls = labels.collect()
      assert(ls.length == 200 && ls.forall(_.getAs[Int]("cluster") == 0))
      assert(centers.nonEmpty && centers.forall(_.toSeq == Seq(1.5, -2.0, 0.25)))
    }
    // n == 2: k clamps to 2, each row its own cluster
    val two = Seq((3L, Array(0.0, 1.0)), (9L, Array(4.0, -1.0))).toDF("vec_id", "scaled")
    val (labels2, centers2) = GraphBuild.microCluster(two, "vec_id", "scaled")
    val ls2 = labels2.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(ls2.keySet == Set(3L, 9L) && ls2.values.toSet.size == 2)
    assert(centers2.length == 2)
  }

  test("a KMeans training submits a constant number of Spark jobs") {
    // the fit runs in-process over one gathered training set: the job
    // count must not grow with k or with the Lloyd iterations
    val rnd = new scala.util.Random(3)
    val df = (0 until 3000).map { i =>
      (i.toLong, Array.fill(4)(((i % 5) * 4.0 + rnd.nextGaussian())))
    }.toDF("vec_id", "scaled").persist()
    df.count()
    val counts = for {
      (maxMicro, floor) <- Seq((4, 50000L), (40, 50000L), (12, 500L))
    } yield Ledger.measure(spark)(GraphBuild.microCluster(df, "vec_id", "scaled",
      maxMicro = maxMicro, sampleFloor = floor))._2.jobs
    assert(counts.forall(_ <= 3), s"jobs per training: $counts")
    assert(counts.distinct.size == 1, s"job count varies with k or path: $counts")
    df.unpersist()
  }

  test("silhouette: clusters/counts agree with o51 labels, scores bounded") {
    val sf = "/root/testdata/sf0.001"
    val sil = SparkEntry.queries("q_cluster_silhouette")(spark, sf).collect()
    val labels = SparkEntry.queries("o51_kmeans")(spark, sf).collect()
    Scratch.release(spark)
    assert(sil.nonEmpty)
    // the silhouette pass re-derives the assignment with the same
    // strict-< rule o51 exports — cluster populations must MATCH
    val fromLabels = labels.groupBy(_.getAs[Int]("cluster"))
      .map { case (c, rs) => c.toLong -> rs.length.toLong }
    val fromSil = sil.map(r =>
      r.getAs[Long]("cluster") -> r.getAs[Long]("n")).toMap
    assert(fromSil == fromLabels, "per-cluster populations diverge from o51")
    // simplified silhouette is in [0, 1] by construction (a <= b)
    sil.foreach { r =>
      val m = r.getAs[Long]("mean_sbp")
      assert(m >= 0L && m <= 10000L, s"mean_sbp out of range: $r")
    }
    // the clustering is real: separated centroids dominate, so the
    // corpus-level mean should be meaningfully positive
    val tot = sil.map(r => r.getAs[Long]("mean_sbp") * r.getAs[Long]("n")).sum
    val n = sil.map(_.getAs[Long]("n")).sum
    assert(tot / n > 1000L, s"corpus mean silhouette ${tot / n} bp looks degenerate")
  }

  /** The reference for [[GraphBuild.childrenOf]]: its former body, a
    * broadcast join of the graph against the parent row on the ltree
    * prefix + depth predicate.
    */
  private def childrenJoin(graph: DataFrame, nodeId: Long): DataFrame = {
    val parent = graph.filter(col("id") === nodeId)
      .select(col("path").as("ppath"), col("depth").as("pdepth"))
    graph.join(broadcast(parent),
        col("path").startsWith(concat(col("ppath"), lit("."))) &&
          col("depth") === col("pdepth") + 1)
      .select("id", "path", "name", "type", "children_count", "count")
  }

  /** Same column names and types, and the same rows as a multiset. */
  private def assertSameChildren(graph: DataFrame, id: Long): Unit = {
    val got = GraphBuild.childrenOf(graph, id)
    val want = childrenJoin(graph, id)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), s"schema differs for id $id")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(got) == rows(want), s"children of id $id differ from the join")
  }

  /** A built tree's graph (an in-memory relation), build caches released. */
  private def blobTree(): DataFrame = {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 150).map { i =>
      (i.toLong, Array.fill(6)(((i % 4) * 9.0 + rnd.nextGaussian()).toFloat))
    }
    val t = GraphBuild.build(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      maxMicro = 24)
    t.persisted.foreach(_.unpersist())
    t.graph
  }

  test("childrenOf equals the join form on every node of o07 and of a built tree") {
    val o07 = SparkEntry.queries("o07_graph_ids")(spark, "/root/testdata/sf0.001")
      .withColumn("count", lit(0L)).persist()
    val tree = blobTree()
    for (g <- Seq(o07, tree)) {
      val ids = g.select("id").as[Long].collect()
      assert(ids.length > 5 && g.filter(col("children_count") > 0).count() > 1)
      // every node, plus ids the graph does not hold
      (ids ++ Seq(0L, -1L, ids.max + 1)).foreach(assertSameChildren(g, _))
    }
    // an unknown id: no rows, the join's schema
    val none = GraphBuild.childrenOf(tree, 999999L)
    assert(none.collect().isEmpty)
    assert(none.schema == childrenJoin(tree, 999999L).schema)
    o07.unpersist()
  }

  test("childrenOf: NULL path or depth has no children; duplicate ids match the join") {
    val g = Seq[(Long, String, Option[Int])](
      (1L, "root", Some(0)),
      (2L, "root.2", Some(1)),
      (3L, "root.3", Some(1)),
      (4L, "root.2.4", Some(2)),
      // a NULL path: "null.6" would match if the NULL became a string
      (5L, null, Some(1)),
      (6L, "null.6", Some(2)),
      // a NULL depth: 8 would match if the NULL became 0
      (7L, "root.7", None),
      (8L, "root.7.8", Some(1)),
      // id 9 twice with one path: the join returns 4 twice
      (9L, "root.2", Some(1)),
      (9L, "root.2", Some(1)),
      // id 10 twice with two paths: children of both rows
      (10L, "root", Some(0)),
      (10L, "root.3", Some(1)),
      (11L, "root.3.11", Some(2))
    ).toDF("id", "path", "depth")
      .select(col("id"), col("path"), lit("n").as("name"), lit("node").as("type"),
        lit(0).as("children_count"), col("depth"), lit(0L).as("count"))
    assert(GraphBuild.childrenOf(g, 5L).collect().isEmpty)
    assert(GraphBuild.childrenOf(g, 7L).collect().isEmpty)
    assert(GraphBuild.childrenOf(g, 9L).collect().map(_.getAs[Long]("id")).toSeq == Seq(4L, 4L))
    Seq(1L, 2L, 3L, 5L, 7L, 9L, 10L, 12L).foreach(assertSameChildren(g, _))
  }

  test("childrenOf over a build's in-memory tree runs no Spark job") {
    val g = blobTree()
    val (kids, cost) = Ledger.measure(spark)(GraphBuild.childrenOf(g, 1L).collect())
    assert(kids.nonEmpty)
    assert(cost.jobs == 0, s"childrenOf ran ${cost.jobs} jobs over a LocalRelation")
  }

  test("childrenOf over a depth-partitioned parquet graph reads the parent rows once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-children").resolve("g").toString
    SparkEntry.queries("o07_graph_ids")(spark, "/root/testdata/sf0.001")
      .withColumn("count", lit(0L)).write.partitionBy("depth").parquet(dir)
    val g = spark.read.parquet(dir)
    val ids = g.select("id").as[Long].collect().sorted
    assert(ids.length > 5)
    ids.zipWithIndex.foreach { case (id, i) =>
      val (kids, plan) = Ledger.measure(spark)(GraphBuild.childrenOf(g, id))
      // the first call builds the node index in one job
      assert(plan.jobs == (if (i == 0) 1 else 0), s"childrenOf($id) ran ${plan.jobs} jobs")
      val (_, run) = Ledger.measure(spark)(kids.collect())
      assert(run.jobs == 1, s"children of $id collected in ${run.jobs} jobs")
      assertSameChildren(g, id)
    }
  }

  test("childrenOf keeps two graphs with the same ids and schema apart") {
    def graph(paths: String*): DataFrame =
      paths.zipWithIndex.map { case (p, i) => (i + 1L, p, p.count(_ == '.')) }
        .toDF("id", "path", "depth")
        .select(col("id"), col("path"), lit("n").as("name"), lit("node").as("type"),
          lit(0).as("children_count"), col("depth"), lit(0L).as("count"))
    val a = graph("r", "r.2", "x.3")
    val b = graph("x", "r.2", "x.3")
    for (_ <- 1 to 3; (g, want) <- Seq(a -> Seq(2L), b -> Seq(3L)))
      assert(GraphBuild.childrenOf(g, 1L).collect().map(_.getAs[Long]("id")).toSeq == want)
  }

  test("clearCaches drops the node index") {
    val ix = SessionCache.ofLifetime(SessionCache.Artifact)
      .find(_.name == "graph_node_index").get
    GraphBuild.childrenOf(blobTree(), 1L)
    assert(ix.activeCount(spark) == 1)
    SparkEntry.clearCaches()
    assert(ix.activeCount(spark) == 0)
  }

  test("route sends equidistant lists to the lower cluster id first; cosTopK ties on id") {
    // probe at the origin: clusters 3 and 1 are both at distance 1,
    // cluster 0 at distance 5; the rows arrive in descending id order
    val cents = Seq((3, Seq(1.0, 0.0)), (1, Seq(-1.0, 0.0)), (0, Seq(0.0, 5.0)))
      .toDF("cluster", "centroid")
    val probes = Seq((7L, Seq(0.0, 0.0), 42L)).toDF("probe_id", "pv", "truth")
    def routed(n: Int) = AnnIvf.route(probes, cents, n).orderBy("crk")
      .select("cluster", "crk", "truth").as[(Int, Int, Long)].collect().toSeq
    assert(routed(1) == Seq((1, 1, 42L)))
    assert(routed(2) == Seq((1, 1, 42L), (3, 2, 42L)))
    assert(routed(3) == Seq((1, 1, 42L), (3, 2, 42L), (0, 3, 42L)))
    // three candidates with equal cosine to the probe: ranks follow id
    val pairs = Seq((7L, 30L, Seq(2.0, 0.0)), (7L, 10L, Seq(1.0, 0.0)),
        (7L, 20L, Seq(3.0, 0.0)), (7L, 40L, Seq(0.0, 1.0)))
      .toDF("probe_id", "vec_id", "e").withColumn("pv", array(lit(1.0), lit(0.0)))
    val top = AnnIvf.cosTopK(pairs, Seq("probe_id"), "vec_id",
        graft.functions.VectorOps.cosineSimilarityNative(col("e"), col("pv")), 2)
      .orderBy("rk").select("vec_id", "cos", "rk").as[(Long, Double, Int)].collect().toSeq
    assert(top == Seq((10L, 1.0, 1), (20L, 1.0, 2)))
  }
}
