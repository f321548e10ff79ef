package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnGraph, AnnIvf}

/** Graph-navigable ANN (VERDICT r7 "missing" #3 — the reference's HNSW
  * declaration): per-IVF-list navigable-small-world graphs + greedy
  * walk. The contract pinned here: exhaustive walks reproduce the IVF
  * list scan EXACTLY; bounded walks trade a measured, high recall for
  * touching a fraction of each list; the structure is deterministic.
  */
class AnnNswSpec extends SparkSpec {
  import spark.implicits._

  // direction-separated blobs (cosine neighbourhoods == L2 lists)
  private def axisEmb(n: Int) = {
    val rnd = new scala.util.Random(3)
    (0 until n).map { i =>
      val v = Array.fill(8)((rnd.nextGaussian() * 0.1).toFloat)
      v((i % 4) * 2) = (5.0 + rnd.nextGaussian() * 0.1).toFloat
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private lazy val emb = axisEmb(200)
  private lazy val ivf = AnnIvf.buildIndex(emb, "vec_id", "embedding", nList = 4)
  private lazy val nsw = AnnGraph.buildGraph(ivf, m = 6)
  private lazy val probes = emb.filter(col("vec_id") < 4)
    .select(col("vec_id").as("pid"), col("embedding"))

  test("exhaustive walk reproduces the IVF list scan exactly") {
    // efSearch > list size: the walk visits the whole connected list,
    // so scoring + tie-break must equal AnnIvf's scan of the same lists
    val scan = AnnIvf.topK(ivf, probes, "pid", "embedding", k = 5, nProbe = 1)
      .select("probe_id", "vec_id", "rk").collect().map(_.toSeq).toSet
    val walk = AnnGraph.topK(nsw, probes, "pid", "embedding", k = 5,
      nProbe = 1, efSearch = 128)
      .select("probe_id", "vec_id", "rk").collect().map(_.toSeq).toSet
    assert(walk == scan)
  }

  test("bounded walk keeps recall while touching a fraction of the list") {
    val exact = AnnIvf.topK(ivf, probes, "pid", "embedding", k = 5, nProbe = 1)
      .select("probe_id", "vec_id").collect().map(_.toSeq).toSet
    val walk = AnnGraph.topK(nsw, probes, "pid", "embedding", k = 5,
      nProbe = 1, efSearch = 12)
      .select("probe_id", "vec_id").collect().map(_.toSeq).toSet
    val recall = walk.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"bounded-walk recall $recall")
  }

  test("graph degree is bounded by 2m and links stay in-list") {
    val g = nsw.graph.select(col("cluster"), col("vec_id"), col("nbrs")).collect()
    val listOf = g.map(r => r.getLong(1) -> r.getInt(0)).toMap
    g.foreach { r =>
      val nbrs = r.getSeq[Long](2)
      assert(nbrs.size <= 12, s"degree ${nbrs.size} > 2m")
      assert(nbrs.nonEmpty, "no isolated vectors in a populated list")
      nbrs.foreach(nb => assert(listOf(nb) == r.getInt(0), "cross-list link"))
    }
  }

  test("build and search are deterministic across partitionings") {
    val a = AnnGraph.topK(nsw, probes, "pid", "embedding", k = 5,
      nProbe = 2, efSearch = 16).collect().map(_.toSeq).toSet
    val nsw2 = AnnGraph.buildGraph(
      AnnIvf.IvfIndex(ivf.assigned.repartition(7), ivf.centroids, ivf.idCol), m = 6)
    val b = AnnGraph.topK(nsw2, probes.repartition(3), "pid", "embedding", k = 5,
      nProbe = 2, efSearch = 16).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  /** The flat NSW search the layered [[AnnGraph.topK]] replaced: entry =
    * each list's min vec_id, then the same bounded walk.
    */
  private def flatNswTopK(ix: AnnGraph.GraphIndex, k: Int, nProbe: Int,
      efSearch: Int) = {
    val routed = AnnIvf.route(probes
        .select(col("pid").cast("long").as("probe_id"),
          graft.functions.VectorOps.toDoubleArr(col("embedding")).as("pv")),
        ix.centroids, nProbe)
      .select(col("cluster").cast("int"), col("probe_id"), col("pv"))
      .as[AnnGraph.ProbeRow]
    val hits = ix.graph.as[AnnGraph.GraphRow].groupByKey(_.cluster)
      .cogroup(routed.groupByKey(_.cluster)) {
        (_: Int, gIt: Iterator[AnnGraph.GraphRow], pIt: Iterator[AnnGraph.ProbeRow]) =>
        val ps = pIt.toSeq
        if (ps.isEmpty) Iterator.empty
        else {
          val rows = gIt.toArray
          val byId = rows.map(r => r.vec_id -> r).toMap
          val entry = if (rows.isEmpty) -1L else rows.iterator.map(_.vec_id).min
          ps.iterator.flatMap { p =>
            if (entry < 0) Iterator.empty
            else AnnGraph.walkList(byId, entry, p.pv.toIndexedSeq, efSearch)
              .map((t: (Double, Long)) => AnnGraph.Hit(p.probe_id, t._2, t._1))
          }
        }
      }
    AnnIvf.cosTopK(hits.toDF(), Seq("probe_id"), "vec_id", col("cos"), k)
      .withColumn("rk", col("rk").cast("long"))
  }

  test("the layered search over an index with no upper layers is the flat NSW search") {
    assert(nsw.layers.isEmpty)
    for (ef <- Seq(12, 16, 128); nProbe <- Seq(1, 2)) {
      val one = AnnGraph.topK(nsw, probes, "pid", "embedding", k = 5,
        nProbe = nProbe, efSearch = ef).collect().map(_.toSeq).toSet
      val flat = flatNswTopK(nsw, k = 5, nProbe = nProbe, efSearch = ef)
        .collect().map(_.toSeq).toSet
      assert(one.nonEmpty && one == flat, s"efSearch=$ef nProbe=$nProbe")
    }
  }

  // ---- HNSW layer hierarchy over the same base (r15) ----

  private lazy val hnsw = AnnGraph.buildLayers(nsw, m = 6, maxLayer = 3)

  test("hnsw layers: geometric population, nested membership, bounded degree") {
    val rows = hnsw.layers.select("cluster", "layer", "vec_id", "nbrs").collect()
    assert(rows.nonEmpty, "upper layers must be populated at n=200")
    val byLayer = rows.groupBy(_.getInt(1)).view.mapValues(_.map(r =>
      (r.getInt(0), r.getLong(2))).toSet).toMap
    // levels are geometric(1/4): layer 1 holds a strict subset, and the
    // exact rule is pinned against levelOf
    rows.foreach { r =>
      assert(AnnGraph.levelOf(r.getLong(2), 3) >= r.getInt(1))
      assert(r.getSeq[Long](3).size <= 12, "degree > 2m in an upper layer")
    }
    // nested: every layer-l node is a layer-(l-1) node (and a base node)
    val base = nsw.graph.select("cluster", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    byLayer.foreach { case (l, members) =>
      val below = if (l == 1) base else byLayer.getOrElse(l - 1, Set.empty)
      assert(members.subsetOf(below), s"layer $l not nested in ${l - 1}")
      // in-layer links only
      rows.filter(_.getInt(1) == l).foreach(r =>
        r.getSeq[Long](3).foreach(nb =>
          assert(members.contains((r.getInt(0), nb)), s"cross-layer link at $l")))
    }
  }

  test("hnsw exhaustive walk reproduces the IVF list scan exactly") {
    // the descent only picks the ENTRY; with efSearch > list size the
    // walk is exhaustive, so results must equal the scan regardless of
    // which entry the hierarchy chose
    val scan = AnnIvf.topK(ivf, probes, "pid", "embedding", k = 5, nProbe = 1)
      .select("probe_id", "vec_id", "rk").collect().map(_.toSeq).toSet
    val walk = AnnGraph.topK(hnsw, probes, "pid", "embedding",
      k = 5, nProbe = 1, efSearch = 128)
      .select("probe_id", "vec_id", "rk").collect().map(_.toSeq).toSet
    assert(walk == scan)
  }

  test("hnsw bounded walk keeps recall; build is deterministic") {
    val exact = AnnIvf.topK(ivf, probes, "pid", "embedding", k = 5, nProbe = 1)
      .select("probe_id", "vec_id").collect().map(_.toSeq).toSet
    val walk = AnnGraph.topK(hnsw, probes, "pid", "embedding",
      k = 5, nProbe = 1, efSearch = 12)
      .select("probe_id", "vec_id").collect().map(_.toSeq).toSet
    val recall = walk.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"hnsw bounded-walk recall $recall")
    val hnsw2 = AnnGraph.buildLayers(nsw.copy(graph = nsw.graph.repartition(5)),
      m = 6, maxLayer = 3)
    val a = hnsw.layers.collect().map(_.toSeq).toSet
    val b = hnsw2.layers.collect().map(_.toSeq).toSet
    assert(a == b, "layer build must be partitioning-independent")
  }
}
