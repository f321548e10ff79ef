package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-pack query registries. Every key in [[queries]]
  * that is SQL-expressible has a DuckDB twin in [[oracleSql]] with
  * IDENTICAL output column names (the driver's compare sorts columns by
  * name before hashing).
  */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  private val packs: Seq[(Map[String, Q], Map[String, String])] =
    Seq(
      (RelationalQueries.queries, RelationalQueries.oracle),
      (TextQueries.queries, TextQueries.oracle),
      (TextAnalyticsQueries.queries, TextAnalyticsQueries.oracle),
      (VectorQueries.queries, VectorQueries.oracle),
      (DedupQueries.queries, DedupQueries.oracle),
      (CorpusQueries.queries, CorpusQueries.oracle),
      (GraphQueries.queries, GraphQueries.oracle),
      (IoQueries.queries, IoQueries.oracle),
      (ExtendedQueries.queries, ExtendedQueries.oracle),
      (IncrementalQueries.queries, IncrementalQueries.oracle),
      (BpeQueries.queries, BpeQueries.oracle),
      (SketchQueries.queries, SketchQueries.oracle),
      (GraphAnalyticsQueries.queries, GraphAnalyticsQueries.oracle),
      (SelectionQueries.queries, SelectionQueries.oracle),
      (CorpusStatsQueries.queries, CorpusStatsQueries.oracle),
      (PersistQueries.queries, PersistQueries.oracle))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_act_features")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    packs.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    packs.map(_._2).reduce(_ ++ _)

  /** One bench-only artifact build and the entries that read its memo
    * DIRECTLY — declared queries, or later builds that build on it.
    */
  private final case class Build(name: String, fn: Q, consumers: Set[String])

  /** Bench-only artifact builds (r11 — VERDICT r10 #4), in dependency
    * order: every build precedes the builds it feeds. NOT part of
    * [[queries]]: they are not declared operators and must not appear in
    * the Verify dump. Bench runs them cold at the start of each
    * interleaved pass so each one-time build cost (KMeans→Ward tree,
    * depth-partitioned serving table, IVF lists, NSW graphs, E1
    * pipeline) is timed exactly once per pass, and dependent queries
    * measure query work over the warm memo instead of quintuple-counting
    * the build. The dedup LSH bucket cache is deliberately NOT here: its
    * DuckDB twins recompute the bucketing in-query, so the Spark side
    * must too (fair ratio; a query-lifetime memo, see [[SessionCache]]).
    *
    * Consumers list DIRECT edges only; [[artifactDeps]] derives the
    * transitive closure. ArtifactRegistrySpec checks every edge.
    */
  private val builds: Seq[Build] = Seq(
    Build("build_graph_tree", GraphQueries.rebuildTree, Set("o51_kmeans",
      "q_ward_dendrogram", "q_graph_build", "q_prune_prototypes",
      "q_cluster_silhouette", "q_cluster_keywords", "q_graph_children")),
    Build("build_graph_depth", GraphQueries.rebuildDepthTable,
      Set("q_serve_children_pruned")),
    Build("build_ivf_index", VectorQueries.rebuildIvf, Set("q_ann_ivf",
      "q_bitext_mine", "q_ann_ivf_upsert", "q_ann_drift", "q_ann_recall_ivf",
      "q_hybrid_retrieval_ivf", "q_contrastive_pairs", "q_dedup_semantic",
      "q_knn_eval", "q_stream_ann_serve",
      // the NSW graphs are built per IVF list; the store saves the lists
      "build_nsw_graph", "build_index_store")),
    // layer 0 of the HNSW index IS the NSW graph
    Build("build_nsw_graph", VectorQueries.rebuildNsw,
      Set("q_ann_recall_nsw", "build_hnsw_layers")),
    Build("build_hnsw_layers", VectorQueries.rebuildHnsw,
      Set("q_ann_recall_hnsw")),
    Build("build_pq_codebooks", VectorQueries.rebuildPq,
      Set("q_pq_encode", "q_ann_recall_pq", "build_index_store")),
    Build("build_bm25_index", CorpusQueries.rebuildBm25, Set("q_bm25_topk",
      "q_bm25_rm3", "q_retrieval_mrr", "q_hybrid_retrieval",
      "q_hybrid_retrieval_ivf",
      // the upsert merges its delta into the standing index memo
      "build_bm25_upsert", "build_index_store")),
    Build("build_bm25_upsert", CorpusQueries.rebuildBm25Upsert,
      Set("q_bm25_upsert", "q_retrieval_ndcg", "build_index_append")),
    Build("build_bpe_model", BpeQueries.rebuildBpe, Set("q_tokenize_bpe",
      "q_bpe_terms", "q_bpe_fertility", "q_pack_sequences_bpe",
      "q_token_windows_bpe")),
    Build("build_e1_model", IoQueries.rebuildE1,
      Set("q_e1_pipeline", "q_e1_features", "q_chunk_semantic")),
    Build("build_pagerank_edges", GraphAnalyticsQueries.rebuildEdges,
      Set("q_graph_pagerank")),
    // last three: the store saves the ivf/bm25/pq memos built above; the
    // append clones that store and merges the upsert deltas; the compact
    // rewrites the appended store
    Build("build_index_store", PersistQueries.rebuildStore,
      Set("q_index_persist", "build_index_append")),
    Build("build_index_append", PersistQueries.rebuildAppend,
      Set("q_index_persist_upsert", "build_index_compact")),
    Build("build_index_compact", PersistQueries.rebuildCompact,
      Set("q_index_compact")))

  /** The bench-only artifact builds, as (name, fn) in dependency order. */
  def benchArtifacts: Seq[(String, Q)] = builds.map(b => b.name -> b.fn)

  /** The direct consumer edges of each build (see [[builds]]). */
  private[graft] def artifactConsumers: Map[String, Set[String]] =
    builds.map(b => b.name -> b.consumers).toMap

  /** build_* entry → every entry that reads its memo, directly or through
    * a later build: the transitive closure of [[artifactConsumers]].
    * Bench uses it three ways: SPARK_GRAFT_ONLY auto-includes a selected
    * query's builds, a build skipped under the bounded second pass takes
    * its dependents with it (they would otherwise pay the cold build
    * inline, blowing the cap the skip was enforcing), and later phases
    * warm a cold build before a dependent's rep.
    */
  lazy val artifactDeps: Map[String, Set[String]] = {
    val direct = artifactConsumers
    def closure(b: String): Set[String] =
      direct(b) ++ direct(b).filter(direct.contains).flatMap(closure)
    direct.keys.map(b => b -> closure(b)).toMap
  }

  /** Drop and release every artifact memo (graph build, indexes, E1
    * pipeline, …) and every scratch persist and query memo, so the next
    * invocation pays the full cost — used by Bench at the start of each
    * interleaved pass. Catalog memos survive (see [[SessionCache]]).
    */
  def clearCaches(): Unit = {
    SessionCache.releaseAll(SessionCache.Artifact)
    Scratch.releaseAll()
  }
}
