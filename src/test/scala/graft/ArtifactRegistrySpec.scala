package graft

/** The bench build registry in [[SparkEntry]]: each `build_*` entry is
  * declared once, in dependency order, with the entries that read its
  * memo directly; Bench reads the transitive closure ([[SparkEntry.artifactDeps]]).
  *
  * Only the DECLARED edges are checked against the engine. Finding a
  * MISSING edge (a query that reads a memo but is not listed) would need
  * a cold run of all 206 queries — a full sweep — so it is out of scope.
  */
class ArtifactRegistrySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val builds = SparkEntry.benchArtifacts.map(_._1)
  private val edges = SparkEntry.artifactConsumers

  test("every build and consumer name is a declared query or build") {
    assert(edges.keySet === builds.toSet)
    val known = SparkEntry.queries.keySet ++ builds
    val unknown = for ((b, cs) <- edges.toSeq; c <- cs.toSeq if !known(c)) yield s"$b → $c"
    assert(unknown.isEmpty, s"unknown consumers: ${unknown.mkString(", ")}")
  }

  test("benchArtifacts puts every feeder before its dependents") {
    val pos = builds.zipWithIndex.toMap
    val late = for ((b, cs) <- edges.toSeq; c <- cs.toSeq
                    if pos.contains(c) && pos(c) <= pos(b)) yield s"$b → $c"
    assert(late.isEmpty, s"dependents ordered before their feeders: ${late.mkString(", ")}")
  }

  test("artifactDeps is the transitive closure of the direct edges") {
    def buildsOf(q: String): Set[String] =
      SparkEntry.artifactDeps.collect { case (b, deps) if deps(q) => b }.toSet
    assert(buildsOf("q_ann_recall_hnsw") ===
      Set("build_ivf_index", "build_nsw_graph", "build_hnsw_layers"))
    assert(buildsOf("q_index_compact") === Set("build_ivf_index",
      "build_pq_codebooks", "build_bm25_index", "build_bm25_upsert",
      "build_index_store", "build_index_append", "build_index_compact"))
    assert(buildsOf("o07_graph_ids").isEmpty)
  }

  test("each declared edge is real: a cold consumer fills its build's own memos") {
    val fns = SparkEntry.queries ++ SparkEntry.benchArtifacts
    val filled = scala.collection.mutable.Map.empty[String, Set[String]]
    // artifact memos holding an entry after running `name` right after
    // a full clear
    def fills(name: String): Set[String] = filled.getOrElseUpdate(name, {
      SparkEntry.clearCaches()
      fns(name)(spark, sf).queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
      Scratch.release(spark)
      SessionCache.ofLifetime(SessionCache.Artifact)
        .filter(_.activeCount(spark) > 0).map(_.name).toSet
    })
    // a build's own memos: what it fills beyond what its feeders fill.
    // Most builds own one memo, which a consumer must fill; build_e1_model
    // owns three (pipeline, scored frame, scored export) and each of its
    // consumers reads a different subset, so one shared memo suffices.
    def own(b: String): Set[String] =
      fills(b) -- edges.collect { case (f, cs) if cs(b) => fills(f) }.flatten
    val stale = for ((b, cs) <- edges.toSeq.sortBy(_._1); c <- cs.toSeq.sorted
                     if (own(b) & fills(c)).isEmpty)
      yield s"$b → $c (fills none of ${own(b).mkString(",")})"
    SparkEntry.clearCaches()
    assert(stale.isEmpty, s"declared edges whose consumer never reads the build: ${stale.mkString("; ")}")
  }
}
