package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._

/** Vector / similarity-search / eval pack (O-54, O-56, O-37, O-12, O-41)
  * over `embeddings` (ARRAY<FLOAT> ×64) and `documents`.
  *
  * Scale designs:
  *  - o54: stateless per-row expressions against a broadcast 1-row probe
  *    — no shuffle, embarrassingly parallel.
  *  - o56 brute-force top-k: probes broadcast against the candidate scan,
  *    per-probe top-k via a PARTITIONED window (WindowGroupLimit turns it
  *    into a running top-k, no full sort). Brute force is the exact
  *    baseline; the LSH-bucketed path for 100 TB is `q_dedup_embed` in
  *    [[DedupQueries]].
  *  - o37: posexplode to (label, dim, x) long form — the shuffle key is
  *    (label, dim), so centroid math distributes over dims as well as
  *    labels; decimal sums make the result independent of partial-agg
  *    order (engine-stable).
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("e"))

  private val embSql =
    s"(SELECT vec_id, label, ${toDoubleArrSql("embedding")} AS e FROM embeddings)"

  /** O-54: l2 + cosine of every vector against the vec_id=0 probe —
    * native codegen'd expressions (same fold order as the HOF forms, so
    * the oracle twins are unchanged).
    */
  private val o54: Q = (s, d) => {
    val probe = emb(s, d).filter(col("vec_id") === 0).select(col("e").as("pv"))
    emb(s, d).crossJoin(broadcast(probe))
      .select(col("vec_id"),
        (round(l2DistanceNative(col("e"), col("pv")), 6) + lit(0.0)).as("l2"),
        (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
  }

  /** O-56: brute-force cosine top-10 for 5 probe vectors. */
  private val o56: Q = (s, d) => {
    val probes = emb(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"))
    emb(s, d).crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"),
        (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 10)
      .select("probe_id", "rk", "vec_id", "cos")
  }

  /** O-37: per-cluster centroid (graph_creator.py:345-347), long form. */
  private val o37: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("x"))
      .groupBy("label", "dim")
      .agg((round(sum(col("x").cast("decimal(18,8)")).cast("double") / count(lit(1)), 6) + lit(0.0))
        .as("mean"))

  /** O-12: array-overlap predicate (bert_comparison.ipynb cell 3). */
  private val o12: Q = (s, d) => {
    val labs = slice(split(col("text"), " "), 1, 5)
    val common = array(Seq("data", "row", "fast", "query", "value").map(lit): _*)
    Tables.documents(s, d)
      .filter(arrays_overlap(labs, common))
      .select(col("doc_id"), array_join(labs, " ").as("labs"))
  }

  /** O-41: hit-rate / per-class F1 (bert_comparison.ipynb cells 8-10).
    * Deterministic stand-in predictor pred = vec_id mod 3 vs the label
    * column; F1 in integer basis points (DIV) so no FP boundary.
    */
  private val o41: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), pmod(col("vec_id"), lit(3)).cast("long").as("pred"),
        col("label").cast("long").as("truth"))
    val classes = s.range(3).select(col("id").as("class"))
    e.crossJoin(broadcast(classes))
      .groupBy("class")
      .agg(
        sum(when(col("pred") === col("class") && col("truth") === col("class"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === col("class") && col("truth") =!= col("class"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") =!= col("class") && col("truth") === col("class"), 1L).otherwise(0L)).as("fn"))
      .withColumn("f1_bp", expr("(2*tp*10000) DIV greatest(2*tp + fp + fn, 1)"))
  }

  /** IVF ANN (oracle-checked since r12 via the centroid export — the
    * trained quantizer is deterministic data, and everything downstream
    * of it is replayable arithmetic): probe 4 of the
    * auto-sized inverted lists ([[graft.operators.AnnIvf.autoNList]]:
    * constant ~500-vector list length, floor 16 — bench SFs stay at the
    * historical nList=16) — the 100 TB scale path where the corpus scan
    * is cut to nProbe/nList. Exactness at nProbe == nList is asserted
    * in tests.
    */
  // index built once per data dir (an index is a persistent artifact, not
  // per-query work — a user would build it once and query many times)
  private val ivfCache = graft.SessionCache
    .artifact[graft.operators.AnnIvf.IvfIndex]("ivf_index")(_.assigned.unpersist())
  private val nswCache = graft.SessionCache
    .artifact[graft.operators.AnnNsw.NswIndex]("nsw_graph")(_.graph.unpersist())

  /** Where the trained coarse-quantizer centroids are exported for the
    * q_ann_ivf oracle (r12, VERDICT r11 #6 — the q_graph_children /
    * q_e1_features pattern): the KMeans training itself is not
    * SQL-replayable, but its OUTPUT — nList rows of centroid doubles —
    * is just data, and given those exact doubles the entire IVF search
    * (nearest-centroid list assignment, probe→list ranking, in-list
    * cosine top-k) is plain arithmetic DuckDB replays bit-for-bit.
    * Fixed name under tmpdir for the same reason as the graph export:
    * the oracle SQL is a static string and one Verify run covers
    * exactly one data dir.
    */
  private[graft] def ivfExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_ivf_centroids").toString

  /** The ONE auto-sized IVF build all five ANN queries share per
    * (session, dir) — an index is a persistent artifact a user builds
    * once and queries many times, not per-query work. Building it also
    * (re)writes the centroid export the q_ann_ivf oracle replays —
    * trivially small (nList rows) and memoized with the index itself.
    */
  private[graft] def ivfIndex(s: SparkSession, d: String): graft.operators.AnnIvf.IvfIndex = {
    val embT = Tables.embeddings(s, d)
    ivfCache.getOrElseUpdate(s, d) {
      val ix = graft.operators.AnnIvf.buildIndex(embT, "vec_id", "embedding",
        nList = graft.operators.AnnIvf.autoNList(embT.count()))
      ix.centroids.write.mode("overwrite").parquet(ivfExportPath)
      ix
    }
  }

  /** Bench artifact hooks (r11 — VERDICT r10 #4): Bench times these as
    * explicit `build_*` entries at the start of each interleaved pass
    * (right after its full memo clear, so each build runs cold exactly
    * once per pass) and the dependent queries in the pass reuse the
    * memo. The one-time build cost then appears exactly once in the
    * bench total instead of inside every ANN query. Forcing `assigned`
    * (the persisted inverted lists) materializes the index here, not in
    * the first query that probes it.
    */
  private[graft] val rebuildIvf: Q = (s, d) => ivfIndex(s, d).assigned

  /** Where the per-list NSW graphs are exported for the q_ann_recall_nsw
    * oracle (r13, VERDICT r12 #4): the graph BUILD (in-list kNN over
    * KMeans lists) is not SQL-replayable, but the built adjacency is
    * just data — and given it, the bounded best-first walk is a
    * deterministic step sequence a recursive CTE replays exactly (pop
    * max-(cos, -id) from the frontier, expand unvisited neighbours,
    * keep top-efSearch results, stop when the best frontier candidate
    * cannot improve the worst kept result). Same fixed-path/static-SQL
    * constraint as the other exports.
    */
  private[graft] def nswExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_nsw_graph").toString

  /** The memoized NSW index; building it (re)writes the adjacency
    * export the walk oracle replays.
    */
  private[graft] def nswIndex(s: SparkSession, d: String): graft.operators.AnnNsw.NswIndex =
    nswCache.getOrElseUpdate(s, d) {
      val ix = graft.operators.AnnNsw.buildGraph(ivfIndex(s, d))
      ix.graph.write.mode("overwrite").parquet(nswExportPath)
      ix
    }

  private[graft] val rebuildNsw: Q = (s, d) => nswIndex(s, d).graph

  /** Where the HNSW upper-layer adjacency is exported for the
    * q_ann_recall_hnsw oracle (r15 — VERDICT r14 "missing" #3). Layer 0
    * is the NSW export; this file carries layers ≥ 1 only:
    * (cluster, layer, vec_id, nbrs), vectors joined from the NSW export.
    */
  private[graft] def hnswExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_hnsw_layers").toString

  private val hnswCache = graft.SessionCache
    .artifact[graft.operators.AnnHnsw.HnswIndex]("hnsw_layers")(_.layers.unpersist())

  private[graft] def hnswIndex(s: SparkSession, d: String): graft.operators.AnnHnsw.HnswIndex =
    hnswCache.getOrElseUpdate(s, d) {
      val ix = graft.operators.AnnHnsw.buildLayers(nswIndex(s, d))
      ix.layers.write.mode("overwrite").parquet(hnswExportPath)
      ix
    }

  private[graft] val rebuildHnsw: Q = (s, d) => hnswIndex(s, d).layers

  /** Where the trained PQ codebooks are exported for the q_pq_encode /
    * q_ann_recall_pq oracles — the AnnIvf centroid-export pattern: the
    * per-subspace KMeans training is not SQL-replayable, but its output
    * (m·k rows of 8-dim centroid doubles) is just data, and given those
    * exact doubles both ENCODING (per-subspace exact nearest-codeword,
    * strict <, tie → lowest code) and ADC search are plain arithmetic
    * DuckDB replays bit-for-bit.
    */
  private val PqM = 8
  private val PqK = 16
  private val PqDSub = 8 // 64-dim embeddings (TablesSpec) / PqM

  private val pqCache = graft.SessionCache
    .artifact[graft.operators.PqOps.PqIndex]("pq_codebooks")(_.codes.unpersist())

  private[graft] def pqExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_pq_codebooks").toString

  private[graft] def pqIndex(s: SparkSession, d: String): graft.operators.PqOps.PqIndex =
    pqCache.getOrElseUpdate(s, d) {
      val ix = graft.operators.PqOps.buildPq(Tables.embeddings(s, d),
        "vec_id", "embedding", m = PqM, k = PqK)
      val sp = s
      import sp.implicits._
      (0 until ix.m).flatMap(j => (0 until ix.k).map(c =>
        (j, c, ix.codebooks(j)(c).toSeq)))
        .toDF("j", "c", "centroid")
        .select(col("j"), col("c"), col("centroid").cast("array<double>").as("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(pqExportPath)
      ix
    }

  private[graft] val rebuildPq: Q = (s, d) => pqIndex(s, d).codes

  /** PQ codes, long form — the 64×-compressed representation itself as
    * a declared result (vec_id, subspace, code).
    */
  /** PQ codes long form over an EXPLICIT index (the IndexStore seam). */
  private[graft] def pqEncodeFrom(ix: graft.operators.PqOps.PqIndex): DataFrame =
    ix.codes.select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        col("col").cast("long").as("code"))

  private val pqEncode: Q = (s, d) => pqEncodeFrom(pqIndex(s, d))

  /** PQ recall@10 vs the exact L2 top-10, both stages of the standard
    * PQ pipeline as one declared metric:
    *  - `adc`: pure ADC ranking — probe exact, corpus as codes,
    *    distance = Σⱼ ‖pv_subⱼ − cbⱼ[codeⱼ]‖² folded in subspace order
    *    (the proven fold/list_sum parity pair). Lossy by design (32-bit
    *    codes), the stage that SCANS compressed data.
    *  - `adc_rr`: exact re-rank of the ADC top-50 shortlist — the
    *    refine step every production PQ deployment runs: only
    *    shortlist-sized raw-vector reads per probe, recall recovered.
    * The codebook rides the expression as a 128-entry literal (bounded
    * by m·k, broadcast-in-closure like the assignNearestArr centroids).
    */
  private val PqShortlist = 50

  private val pqRecall: Q = (s, d) => {
    val index = pqIndex(s, d)
    val vecs = emb(s, d).select(col("vec_id"), col("e"))
    val probes = vecs.filter(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"))
    val exact = vecs.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"),
        (round(l2DistanceNative(col("e"), col("pv")), 6) + lit(0.0)).as("l2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("l2"), col("vec_id"))))
      .filter(col("rk") <= RecallK)
      .select("probe_id", "vec_id")
    val cbFlat: Seq[Seq[Double]] = (0 until index.m).flatMap(j =>
      (0 until index.k).map(c => index.codebooks(j)(c).toSeq))
    val cb = typedLit(cbFlat)
    // Standard ADC table hoist: each probe precomputes its m×k subspace
    // distance LUT ONCE (lut[j·k+c] = ‖pv_subⱼ − cbⱼ[c]‖², the identical
    // zip_with/aggregate fold the scan used to run per pair), so the
    // corpus×probe scan is m element_at lookups per pair instead of
    // m·dSub interpreted-lambda FLOPs. Same folds on the same inputs in
    // the same order ⇒ bit-identical distances (hash-pinned at 2 SFs).
    val lutCol = transform(sequence(lit(0), lit(index.m * index.k - 1)), i => {
      val j = floor(i / lit(index.k)).cast("int")
      aggregate(
        zip_with(
          slice(col("pv"), j * lit(index.dSub) + lit(1), lit(index.dSub)),
          element_at(cb, (i + lit(1)).cast("int")),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (sa, x) => sa + x)
    })
    val probesLut = probes.select(col("probe_id"), lutCol.as("lut"))
    // native codegen'd fold (PqAdcExpr) — identical accumulation order
    // to the HOF `aggregate(sequence(0,m-1), ...)` form it replaces
    val adcCol = call_function("pq_adc", col("codes"), col("lut"), lit(index.k))
    // shortlist persisted: consumed by the adc arm AND the re-rank arm
    val shortlist = graft.Scratch.persist(
      index.codes.crossJoin(broadcast(probesLut))
        .select(col("probe_id"), col("vec_id"),
          (round(adcCol, 6) + lit(0.0)).as("adc"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("adc"), col("vec_id"))))
        .filter(col("rk") <= PqShortlist)
        .select("probe_id", "vec_id", "rk"))
    val adcTop = shortlist.filter(col("rk") <= RecallK)
      .select(lit("adc").as("mode"), col("probe_id"), col("vec_id"))
    val rrTop = shortlist.select("probe_id", "vec_id")
      .join(vecs, "vec_id")
      .join(broadcast(probes), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        (round(l2DistanceNative(col("e"), col("pv")), 6) + lit(0.0)).as("l2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("l2"), col("vec_id"))))
      .filter(col("rk") <= RecallK)
      .select(lit("adc_rr").as("mode"), col("probe_id"), col("vec_id"))
    adcTop.unionAll(rrTop)
      .join(exact, Seq("probe_id", "vec_id"))
      .groupBy("mode", "probe_id").agg(count(lit(1)).as("n_hits"))
      .withColumn("recall_bp", expr(s"(n_hits * 10000) DIV $RecallK"))
  }

  // ---- scalar int8 quantization recall (r17) ----
  // The standard sibling of PQ in a serving stack: symmetric per-DIM
  // int8 quantization (q_embed_quantize is the per-VECTOR encode; this
  // is the shared-scale form search actually uses — one scale vector
  // for the whole corpus, so dot products stay comparable ACROSS
  // vectors) and the end-to-end metric that decides whether to deploy
  // it: recall@10 of quantized-dot search against the exact float-dot
  // top-10. 4× memory cut vs float32 with a plain integer dot kernel —
  // the cheap rung below PQ's 64×.
  //
  // Oracle parity: scales are per-dim max(abs(x)) — MAX, not a sum, so
  // engine-exact over doubles in any order. Codes are
  // floor(x/m·127 + 0.5) (floor-based half-up: cross-engine `round`
  // rounding modes differ, floor does not), kept as DOUBLE-typed
  // integers so the proven dot fold applies; |x| ≤ m ⇒ the IEEE
  // quotient ≤ 1 ⇒ codes land in [−127, 127] with no clamp. Integer
  // products ≤ 127²·64 ≈ 10⁶ keep every partial sum exact in double,
  // so quantized dots are exact integers in BOTH engines — the arm's
  // ranking is replayable without any export. Truth arm = float dot at
  // the house round-6 discipline. dot is NOT self-maximal (no
  // normalization), so a probe can score 0 hits — the probe list
  // left-join keeps its row (the inner-join-drop trap).
  private val int8Recall: Q = (s, d) => {
    val vecs = emb(s, d).select(col("vec_id"), col("e"))
    // per-dim scale vector, assembled in dim order (1-row stats frame)
    val marr = vecs
      .select(posexplode(col("e")).as(Seq("j", "x")))
      .groupBy("j").agg(max(abs(col("x"))).as("m"))
      .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)").as("ms"))
    val qCol = zip_with(col("e"), col("ms"), (x, m) =>
      when(m === 0.0, lit(0.0))
        .otherwise(floor(x / m * lit(127.0) + lit(0.5)).cast("double")))
    // quantized corpus persisted: feeds the probe selection AND the scan
    val qc = graft.Scratch.persist(
      vecs.crossJoin(broadcast(marr)).select(col("vec_id"), col("e"), qCol.as("q")))
    val probes = qc.filter(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"), col("q").as("pq"))
    val truth = qc.crossJoin(broadcast(probes.select("probe_id", "pv")))
      .select(col("probe_id"), col("vec_id"),
        (round(dotNative(col("e"), col("pv")), 6) + lit(0.0)).as("dot"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("dot").desc, col("vec_id"))))
      .filter(col("rk") <= RecallK)
      .select("probe_id", "vec_id")
    val int8Top = qc.crossJoin(broadcast(probes.select("probe_id", "pq")))
      .select(col("probe_id"), col("vec_id"),
        dotNative(col("q"), col("pq")).cast("long").as("qdot"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("qdot").desc, col("vec_id"))))
      .filter(col("rk") <= RecallK)
      .select("probe_id", "vec_id")
    val hits = int8Top.join(truth, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    probes.select("probe_id").join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_bp", expr(s"(n_hits * 10000) DIV $RecallK"))
  }

  /** The q_ann_ivf search over an EXPLICIT index — the seam
    * [[graft.operators.IndexStore]] serves through after loading a
    * persisted index (r17, VERDICT r16 #1).
    */
  private[graft] def ivfTopkFrom(s: SparkSession, d: String,
      index: graft.operators.AnnIvf.IvfIndex): DataFrame = {
    val probes = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("embedding"))
    graft.operators.AnnIvf.topK(index, probes, "pid", "embedding", k = 10, nProbe = 4)
  }

  private val ivf: Q = (s, d) => ivfTopkFrom(s, d, ivfIndex(s, d))

  /** Live memo entries for `s` (IndexStoreSpec's zero-rebuild proof). */
  private[graft] def ivfCacheCount(s: SparkSession): Int =
    ivfCache.activeCount(s)
  private[graft] def pqCacheCount(s: SparkSession): Int =
    pqCache.activeCount(s)

  // ---- contrastive triplet mining through the IVF lists ----
  // The training-data op that turns an embedded corpus into (anchor,
  // positive, hard negative) triplets for metric learning: positive =
  // nearest in-list neighbor (the anchor's own IVF list, self excluded),
  // hard negative = nearest vector in the SECOND-nearest list — close in
  // space but across the cluster boundary, the published hard-negative
  // recipe (random negatives are too easy to carry gradient). Margin =
  // pos_cos − neg_cos is the per-anchor difficulty statistic a curriculum
  // scheduler consumes. Everything downstream of the centroid export is
  // replayable arithmetic (the q_ann_ivf rules verbatim: l2 probe
  // ranking with the cluster tie-break, cosine in-list ranking rounded
  // to 6 before ordering, vec_id ties, self excluded BEFORE ranking).
  // Scale: anchors are a bounded deterministic subset; each anchor
  // touches 2 lists (≈ 2·corpus/nList rows) via the equi-join on the
  // list id — never a corpus scan per anchor.
  private val ContrastiveProbes = 50

  private val contrastive: Q = (s, d) => {
    val index = ivfIndex(s, d)
    val p = Tables.embeddings(s, d).filter(col("vec_id") < ContrastiveProbes)
      .select(col("vec_id").as("probe_id"), toDoubleArr(col("embedding")).as("pv"))
    val lists = p.crossJoin(broadcast(index.centroids))
      .withColumn("cdist", l2DistanceNative(col("pv"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cdist"), col("cluster"))))
      .filter(col("crk") <= 2)
      .select(col("probe_id"), col("pv"), col("cluster"), col("crk"))
    // scratch-persisted: both triplet legs filter this frame — the twin
    // MATERIALIZEs its `ranked` for the same reason
    val ranked = graft.Scratch.persist(lists.join(index.assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("crk"), col("vec_id"),
        (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id", "crk").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") === 1))
    val pos = ranked.filter(col("crk") === 1)
      .select(col("probe_id"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = ranked.filter(col("crk") === 2)
      .select(col("probe_id"), col("vec_id").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, Seq("probe_id"))
      .select(col("probe_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (round(col("pos_cos") - col("neg_cos"), 6) + lit(0.0)).as("margin"))
  }

  // ---- k-NN label eval: embedding quality as LOO classification ----
  // The standard intrinsic eval of an embedding space: leave-one-out
  // k-NN majority-vote classification against the `label` column. The
  // neighbor search runs through the IVF probed lists (the 100 TB
  // shape — candidates are nProbe/nList of the corpus, never a
  // brute-force scan; probes are a deterministic 1-in-10 subset so the
  // eval itself scales linearly). Vote is exact integer (count per
  // neighbor label; tie → lowest label id), and the whole thing
  // replays from the centroid export exactly like q_ann_ivf — search
  // rules identical (probe ranking l2, strict row_number ties on
  // cluster / vec_id, self excluded BEFORE ranking).
  private val KnnK = 10
  private val KnnProbeMod = 10
  private val KnnNProbe = 4

  private val knnEval: Q = (s, d) => {
    val index = ivfIndex(s, d)
    val p = emb(s, d).filter(pmod(col("vec_id"), lit(KnnProbeMod)) === 0)
      .select(col("vec_id").as("probe_id"),
        col("label").cast("long").as("truth"), col("e").as("pv"))
    val lists = p.crossJoin(broadcast(index.centroids))
      .withColumn("cdist", l2DistanceNative(col("pv"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cdist"), col("cluster"))))
      .filter(col("crk") <= KnnNProbe)
      .select("probe_id", "truth", "pv", "cluster")
    val labs = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("nlabel"))
    lists.join(index.assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id")) // leave-one-out
      .select(col("probe_id"), col("truth"), col("vec_id"),
        (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= KnnK)
      .join(labs, Seq("vec_id"))
      .groupBy(col("probe_id"), col("truth"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("votes").desc, col("nlabel"))))
      .filter(col("vrk") === 1)
      .select(col("probe_id"), col("nlabel").as("pred"), col("truth"),
        col("votes"),
        when(col("nlabel") === col("truth"), 1L).otherwise(0L).as("correct"))
  }

  // ---- ANN recall@10 as a declared, oracle-checked metric ----
  // Recall of the sign-LSH bucketed ANN (the q_dedup_embed blocking
  // scheme) against the exact brute-force top-10, per probe, for both
  // single-probe and multi-probe (own + 8 Hamming-1 buckets). The LSH
  // bucket assignment is pure arithmetic, so BOTH sides replay in DuckDB
  // and the recall numbers themselves are hash-checked — the IVF twin
  // below covers the KMeans-built index that SQL cannot replay.
  private val RecallProbes = 50
  private val RecallK = 10

  private def signBucket = (1 to 8).map(i =>
    when(element_at(col("e"), i) > 0, lit(1 << (8 - i))).otherwise(lit(0)))
    .reduce(_ + _)

  /** Exact cosine top-k ids per probe over (probe_id, pv) × (vec_id, e). */
  private def exactTopK(vecs: DataFrame, probes: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"),
        (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= RecallK)
      .select("probe_id", "vec_id")

  private val annRecall: Q = (s, d) => {
    val bk = emb(s, d).select(col("vec_id"), col("e"))
      .withColumn("bucket", signBucket)
    val probes = bk.filter(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"), col("bucket").as("pb"))
    val exact = exactTopK(bk.select("vec_id", "e"),
      probes.select("probe_id", "pv"))
    // candidate join stays an equi-join on the bucket key at any scale;
    // distinct XOR masks mean a candidate matches at most one probe row
    def lshTop(masks: Seq[Int], mode: String): DataFrame = {
      val pr = probes.select(col("probe_id"), col("pv"),
        explode(array(masks.map(m => col("pb").bitwiseXOR(lit(m))): _*)).as("pbucket"))
      broadcast(pr).join(bk, col("pbucket") === col("bucket"))
        .select(col("probe_id"), col("vec_id"),
          (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= RecallK)
        .select(lit(mode).as("mode"), col("probe_id"), col("vec_id"))
    }
    val lsh = lshTop(Seq(0), "lsh1")
      .unionAll(lshTop(0 +: (0 to 7).map(1 << _), "lsh9"))
    // self always hits (own bucket, cos=1 top-1), so no probe row drops
    lsh.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("mode", "probe_id")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("recall_bp", expr(s"(n_hits * 10000) DIV $RecallK"))
  }

  /** IVF recall@10 vs exact, nProbe ∈ {4, 16} over the auto-sized index
    * (oracle-checked since r12 via the same centroid-export replay as
    * q_ann_ivf — the recall numbers themselves are hash-compared;
    * nProbe == nList ⇒ recall == 10000 bp exactly stays asserted in
    * ScalaTest, plus a floor on the nProbe=4 mean).
    */
  private val ivfRecall: Q = (s, d) => {
    val embT = Tables.embeddings(s, d)
    val index = ivfIndex(s, d)
    val probes = embT.filter(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("pid"), col("embedding"))
    val exact = exactTopK(emb(s, d).select(col("vec_id"), col("e")),
      emb(s, d).filter(col("vec_id") < RecallProbes)
        .select(col("vec_id").as("probe_id"), col("e").as("pv")))
    def rec(nProbe: Int): DataFrame =
      graft.operators.AnnIvf.topK(index, probes, "pid", "embedding", RecallK, nProbe)
        .select(lit(nProbe).cast("long").as("n_probe"),
          col("probe_id"), col("vec_id"))
    // probe a constant FRACTION of the lists (quarter + all), not a
    // constant count: with auto-sized nList the scanned share of the
    // corpus — what recall actually tracks — stays comparable across
    // corpus sizes, and nProbe == nList keeps demonstrating the
    // exact-degradation invariant at every scale. At the bench SFs
    // nList = 16, so these are the historical {4, 16} bit-for-bit.
    val nL = index.centroids.count().toInt
    rec(math.max(1, nL / 4)).unionAll(rec(nL))
      .join(exact, Seq("probe_id", "vec_id"))
      .groupBy("n_probe", "probe_id")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("recall_bp", expr(s"(n_hits * 10000) DIV $RecallK"))
  }

  /** NSW recall@10 (oracle-checked since r13 via the adjacency-export
    * walk replay — see [[nswRecallSql]]; the §5.4 fence covers only the
    * graph BUILD, whose output is exported as data):
    * greedy bounded walk over the per-list navigable-small-world graphs
    * vs (a) the global exact top-10 (`recall_bp` — end-to-end quality,
    * routing loss included, mirroring `q_ann_recall_ivf`) and (b) the
    * linear scan of the SAME probed lists (`walk_bp` — isolates what the
    * bounded walk loses vs an exhaustive in-list scan: the 100 TB
    * trade, where the walk replaces the scan per shard). Invariants
    * (exhaustive-walk == scan, degree bound, determinism) in AnnNswSpec.
    */
  private val nswRecall: Q = (s, d) => {
    val embT = Tables.embeddings(s, d)
    val index = ivfIndex(s, d)
    val nsw = nswIndex(s, d)
    val probes = embT.filter(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("pid"), col("embedding"))
    val exact = exactTopK(emb(s, d).select(col("vec_id"), col("e")),
      emb(s, d).filter(col("vec_id") < RecallProbes)
        .select(col("vec_id").as("probe_id"), col("e").as("pv")))
    def rec(nProbe: Int): DataFrame = {
      val walked = graft.operators.AnnNsw
        .topK(nsw, probes, "pid", "embedding", RecallK, nProbe)
        .select(col("probe_id"), col("vec_id"))
      val scanned = graft.operators.AnnIvf
        .topK(index, probes, "pid", "embedding", RecallK, nProbe)
        .select(col("probe_id"), col("vec_id"))
      // left joins from the probe list: a probe whose walk found no
      // exact/scan hits must still appear, at recall 0
      probes.select(col("pid").cast("long").as("probe_id"))
        .join(walked.join(exact, Seq("probe_id", "vec_id"))
          .groupBy("probe_id").agg(count(lit(1)).as("h_exact")),
          Seq("probe_id"), "left")
        .join(walked.join(scanned, Seq("probe_id", "vec_id"))
          .groupBy("probe_id").agg(count(lit(1)).as("h_scan")),
          Seq("probe_id"), "left")
        .select(lit(nProbe).cast("long").as("n_probe"), col("probe_id"),
          coalesce(col("h_exact"), lit(0L)).as("n_hits"),
          expr(s"(coalesce(h_exact, 0) * 10000) DIV $RecallK").as("recall_bp"),
          expr(s"(coalesce(h_scan, 0) * 10000) DIV $RecallK").as("walk_bp"))
    }
    // constant list FRACTION, as in ivfRecall: {4, 16} at bench SFs
    val nL = index.centroids.count().toInt
    rec(math.max(1, nL / 4)).unionAll(rec(nL))
  }

  private val HnswProbes = 20

  /** HNSW recall@10 (r15 — closes VERDICT r14 "What's missing" #3, the
    * multi-layer entry hierarchy of the reference's pgvector `hnsw`
    * index): greedy descent down the per-list layer hierarchy picks the
    * base-walk entry, then the UNCHANGED efSearch-bounded NSW walk —
    * recall vs the global exact top-10. Oracle-checked end to end: the
    * twin replays the descent (a second recursive CTE over the layers
    * export) in front of the proven walk replay. Fewer probes than the
    * NSW metric (20 vs 50) and one nProbe variant keep the twin's
    * walk-replay cost bounded. Build invariants (nested membership,
    * degree bound, descent entry validity, exhaustive-walk parity) in
    * AnnNswSpec.
    */
  private val hnswRecall: Q = (s, d) => {
    val embT = Tables.embeddings(s, d)
    val index = ivfIndex(s, d)
    val hnsw = hnswIndex(s, d)
    val probes = embT.filter(col("vec_id") < HnswProbes)
      .select(col("vec_id").as("pid"), col("embedding"))
    val exact = exactTopK(emb(s, d).select(col("vec_id"), col("e")),
      emb(s, d).filter(col("vec_id") < HnswProbes)
        .select(col("vec_id").as("probe_id"), col("e").as("pv")))
    val nL = index.centroids.count().toInt
    val walked = graft.operators.AnnHnsw
      .topK(hnsw, probes, "pid", "embedding", RecallK, math.max(1, nL / 4))
      .select(col("probe_id"), col("vec_id"))
    probes.select(col("pid").cast("long").as("probe_id"))
      .join(walked.join(exact, Seq("probe_id", "vec_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("h")),
        Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        expr(s"(coalesce(h, 0) * 10000) DIV $RecallK").as("recall_bp"))
  }

  /** IVF index maintenance (oracle-checked since r12: at nProbe ==
    * nList the probe is exact search over the upserted corpus, so the
    * twin needs no quantizer knowledge at all):
    * append perturbed copies of the corpus to the EXISTING index via
    * `AnnIvf.appendToIndex` — nearest-centroid assignment, no rebuild —
    * then probe the first 20 appended vectors at nProbe == nList, where
    * IVF degrades to exact search: every appended vector must find
    * itself at rk=1 (asserted in AnnRecallSpec, along with the
    * generation-drift staleness metric that signals retrain).
    */
  /** The upsert delta (shared by q_ann_ivf_upsert and q_ann_drift):
    * every vector re-enters perturbed (+0.05 per dim) under a +200000
    * id. +0.05 keeps the perturbed copy's cosine with its source
    * strictly below 1.0 at 6 dp, so self (cos = 1.0 exactly) wins
    * rank 1 outright instead of tie-breaking against the original id.
    */
  private[graft] def upsertAppended(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select((col("vec_id") + 200000L).as("vec_id"),
      expr("transform(embedding, x -> cast(x as double) + 0.05)").as("embedding"))

  private val ivfUpsert: Q = (s, d) => {
    val index = ivfIndex(s, d)
    val appended = upsertAppended(s, d)
    val upserted = graft.operators.AnnIvf.appendToIndex(index, appended, "embedding")
    val probes = appended.filter(col("vec_id") < 200020L)
      .select(col("vec_id").as("pid"), col("embedding"))
    graft.operators.AnnIvf.topK(upserted, probes, "pid", "embedding",
      k = 3, nProbe = upserted.centroids.count().toInt)
      .select("probe_id", "rk", "vec_id", "cos")
  }

  // ---- index staleness monitoring (r17) ----
  // The retrain trigger a production vector deployment alerts on: per
  // GENERATION (0 = build, 1 = appended batch) count + mean distance
  // to the owning frozen centroid. When the appended generation's mean
  // drifts above the build's, the coarse quantizer no longer
  // represents the corpus — time to re-train. Exact integers end to
  // end (AnnIvf.assignDriftExact: per-row round(d·1e6) before the
  // sum); one broadcast join over the memoized lists + the delta's
  // assignment pass, no corpus re-scan.
  private val annDrift: Q = (s, d) =>
    graft.operators.AnnIvf.assignDriftExact(
      graft.operators.AnnIvf.appendToIndex(
        ivfIndex(s, d), upsertAppended(s, d), "embedding"))

  // ---- MMR diversified re-rank ----
  // Maximal marginal relevance (Carbonell & Goldstein 1998) over each
  // probe's exact-cosine top-C candidates: greedily select k results
  // maximizing 0.7·rel − 0.3·max_{s∈S} sim(c, s) — the standard
  // redundancy-removal re-rank a retrieval stack runs after ANN.
  //
  // Scale shape: re-ranking is inherently per-probe sequential over a
  // BOUNDED candidate set (C = 20), so the Spark-correct form is local
  // per-row work after the candidate top-k — collect each probe's
  // candidates + their pairwise sims into arrays (partitioned aggs,
  // ≤C and ≤C·(C−1) elements) and run the greedy loop as ONE
  // higher-order-function expression: embarrassingly parallel across
  // probes, zero shuffle in the selection itself, no driver loop. An
  // iterative k-round join would shuffle the whole probe set k times
  // for work each probe can finish locally. (Element-wise lambdas only
  // — no aliased-expression indexing, so the HOF quadratic trap from
  // r10 does not apply.)
  //
  // Oracle parity: both engines score with the same expression tree
  // over the same round-6 cosines (0.7·rel − 0.3·maxsim, left-assoc
  // IEEE), ties to the lowest vec_id; the argmax fold is
  // order-independent, so the nondeterministic collect_list order
  // cannot leak. The twin replays the loop as a recursive CTE with the
  // proven list_sort-struct argmax (the NSW-walk pattern). Precondition
  // both sides share: C > k, so a pick always exists.
  private val MmrProbes = 3
  private val MmrCand = 20
  private val MmrK = 8

  private val mmrRerank: Q = (s, d) => {
    val vecs = emb(s, d).select(col("vec_id"), col("e"))
    val probes = vecs.filter(col("vec_id") < MmrProbes)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"))
    // persisted: feeds the pair-sim self-join (twice) + the packing
    // join. The candidate VECTOR rides along (≤C·probes rows of 128
    // doubles) so the pair sims never rescan-and-join the full vector
    // table (r15: the old withVec join re-streamed all of `vecs` for
    // rows cand already saw), and everything downstream of the top-C
    // window reuses its probe_id partitioning — the self-join and both
    // collect aggregates are exchange-free behind it.
    val cand = graft.Scratch.persist(
      vecs.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("e"),
          (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("rel"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("rel").desc, col("vec_id"))))
        .filter(col("rk") <= MmrCand)
        .select("probe_id", "vec_id", "rel", "e"))
    val sims = cand.as("a").join(cand.as("b"),
        col("a.probe_id") === col("b.probe_id") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.probe_id").as("probe_id"), col("a.vec_id").as("cid"),
        col("b.vec_id").as("sid"),
        (round(cosineSimilarityNative(col("a.e"), col("b.e")), 6) + lit(0.0)).as("sim"))
    val simLists = sims.groupBy("probe_id", "cid")
      .agg(collect_list(struct(col("sid"), col("sim"))).as("sl"))
      .withColumnRenamed("cid", "vec_id")
    val packed = cand.select("probe_id", "vec_id", "rel")
      .join(simLists, Seq("probe_id", "vec_id"), "left")
      .withColumn("sl", coalesce(col("sl"),
        expr("CAST(array() AS ARRAY<STRUCT<sid: BIGINT, sim: DOUBLE>>)")))
      .groupBy("probe_id")
      .agg(collect_list(struct(col("vec_id"), col("rel"), col("sl"))).as("cs"))
    val selExpr = expr(
      s"""aggregate(
         |  sequence(1, $MmrK),
         |  CAST(array() AS ARRAY<STRUCT<v: BIGINT, s: DOUBLE>>),
         |  (acc, step) -> array_append(acc,
         |    aggregate(
         |      transform(
         |        filter(cs, c -> NOT array_contains(transform(acc, a -> a.v), c.vec_id)),
         |        c -> named_struct('v', c.vec_id,
         |          's', CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * coalesce(
         |            array_max(transform(
         |              filter(c.sl, p -> array_contains(transform(acc, a -> a.v), p.sid)),
         |              p -> p.sim)),
         |            CAST(-1.0 AS DOUBLE)))),
         |      CAST(NULL AS STRUCT<v: BIGINT, s: DOUBLE>),
         |      (best, x) -> CASE WHEN best IS NULL OR x.s > best.s
         |                             OR (x.s = best.s AND x.v < best.v)
         |                   THEN x ELSE best END)))""".stripMargin)
    packed.select(col("probe_id"), posexplode(selExpr))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("step"),
        col("col.v").as("vec_id"),
        (round(col("col.s"), 6) + lit(0.0)).as("score"))
  }

  // ---- aligned-pair (bitext-style) mining through the IVF lists ----
  // The margin-based criterion of Artetxe & Schwenk 2019 ("Margin-based
  // Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
  // CCMatrix/LASER mining rule; VERDICT r17 next #8): a candidate pair
  // (x, y) is aligned when cos(x, y) stands OUT against each side's
  // neighborhood — margin = cos(x,y) / mean(kNN-cos(x) ∪ kNN-cos(y)).
  // Absolute cosine alone over-selects hubs; the ratio normalizes per
  // neighborhood density.
  //
  // Sides: corpus A = the standing embeddings; corpus B = the canonical
  // +0.05/+200000 perturbed replica (upsertAppended — the planted
  // "translation" of every A vector, the q_ann_ivf_upsert family).
  // Candidates come from the IVF lists, never all pairs: forward = A
  // probes search the delta-assigned lists (nProbe nearest, in-list
  // cosine top-k); reverse = each surviving candidate searches the
  // STANDING lists; both sides keep only positive-cos neighbors so
  // every margin-DIV operand is positive (trunc == floor cross-engine).
  // Integer surrogate: margin_bp = cos_e6·(nx+ny)·10⁴ DIV (Σx+Σy) —
  // the k-means cancel (both sums carry their own counts), all values
  // bounded by constants (cos_e6 ≤ 1e6, nx+ny ≤ 2k) so BIGINT is safe
  // at any corpus size. BitextSpec pins planted recall at sf0.1.
  private[graft] val BitextProbes = 50
  private[graft] val BitextK = 8
  private[graft] val BitextNProbe = 4

  /** Positive-cos in-list top-k — the [[graft.operators.AnnIvf.topK]]
    * shape with the positivity filter applied BEFORE ranking (both
    * mining directions share it; the twin replays it verbatim).
    */
  private def listTopkPos(assigned: DataFrame, cents: DataFrame,
      probes: DataFrame): DataFrame = {
    val lists = probes.crossJoin(broadcast(cents))
      .withColumn("cdist", l2DistanceNative(col("pv"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cdist"), col("cluster"))))
      .filter(col("crk") <= BitextNProbe)
      .select("probe_id", "pv", "cluster")
    lists.join(assigned, Seq("cluster"))
      .select(col("probe_id"), col("vec_id"),
        (round(cosineSimilarityNative(col("e"), col("pv")), 6) + lit(0.0)).as("cos"))
      .filter(col("cos") > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= BitextK)
      .withColumn("cos_e6", expr("CAST(round(cos * 1000000) AS BIGINT)"))
  }

  private val bitextMine: Q = (s, d) => {
    val index = ivfIndex(s, d)
    val demb = upsertAppended(s, d)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
    // persisted: feeds the forward candidate join AND the reverse
    // probes' vector lookup
    val dass = graft.Scratch.persist(
      graft.operators.AnnIvf.assignNearest(demb, "vec_id", index.centroids))
    val probes = emb(s, d).filter(col("vec_id") < BitextProbes)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"))
    // persisted: fwd feeds its own stats, the reverse probe set, and
    // the final pair join (≤ probes·k rows)
    val fwd = graft.Scratch.persist(listTopkPos(dass, index.centroids, probes))
    val fstats = fwd.groupBy("probe_id")
      .agg(count(lit(1)).as("nx"), sum(col("cos_e6")).as("sumx"))
    val cvec = fwd.select("vec_id").distinct()
      .join(dass, Seq("vec_id"))
      .select(col("vec_id").as("probe_id"), col("e").as("pv"))
    val rev = listTopkPos(index.assigned, index.centroids, cvec)
    val rstats = rev.groupBy("probe_id")
      .agg(count(lit(1)).as("ny"), sum(col("cos_e6")).as("sumy"))
      .withColumnRenamed("probe_id", "cand_id")
    fwd.select("probe_id", "vec_id", "cos_e6")
      .join(broadcast(fstats), Seq("probe_id"))
      .join(broadcast(rstats), col("vec_id") === col("cand_id"))
      .select(col("probe_id"), col("vec_id"), col("cos_e6"),
        expr("(cos_e6 * (nx + ny) * 10000) DIV greatest(sumx + sumy, 1)")
          .as("margin_bp"))
      .withColumn("mrk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("margin_bp").desc, col("vec_id")))
        .cast("long"))
      .orderBy("probe_id", "mrk")
  }

  private def bitextSql: String = {
    def topkPosCtes(probesRel: String, assignedRel: String,
        listsName: String, outName: String): String =
      s"""$listsName AS (
         |  SELECT probe_id, pv, cluster FROM (
         |    SELECT p.probe_id, p.pv, c.cluster,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
         |    FROM $probesRel p CROSS JOIN cents c)
         |  WHERE crk <= $BitextNProbe),
         |$outName AS (
         |  SELECT probe_id, vec_id, CAST(round(cos * 1000000) AS BIGINT) AS cos_e6 FROM (
         |    SELECT l.probe_id, a.vec_id,
         |           round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 AS cos,
         |           row_number() OVER (PARTITION BY l.probe_id
         |             ORDER BY round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM $listsName l JOIN $assignedRel a ON a.cluster = l.cluster
         |    WHERE round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 > 0)
         |  WHERE rk <= $BitextK)""".stripMargin
    s"""WITH $ivfAssignCtes,
       |demb AS ($upsertDeltaSelectSql),
       |${assignCteOver("demb", "dass")},
       |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb
       |           WHERE vec_id < $BitextProbes),
       |${topkPosCtes("probes", "dass", "plists", "fwd")},
       |fstats AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS nx,
       |                  CAST(sum(cos_e6) AS BIGINT) AS sumx
       |           FROM fwd GROUP BY probe_id),
       |cvec AS (SELECT d.vec_id AS probe_id, d.e AS pv
       |         FROM dass d JOIN (SELECT DISTINCT vec_id FROM fwd) c USING (vec_id)),
       |${topkPosCtes("cvec", "assigned", "clists", "rev")},
       |rstats AS (SELECT probe_id AS cand_id, CAST(count(*) AS BIGINT) AS ny,
       |                  CAST(sum(cos_e6) AS BIGINT) AS sumy
       |           FROM rev GROUP BY probe_id),
       |pairs AS (
       |  SELECT f.probe_id, f.vec_id, f.cos_e6,
       |         CAST((f.cos_e6 * (fs.nx + rs.ny) * 10000)
       |           // greatest(fs.sumx + rs.sumy, 1) AS BIGINT) AS margin_bp
       |  FROM fwd f JOIN fstats fs USING (probe_id)
       |  JOIN rstats rs ON rs.cand_id = f.vec_id)
       |SELECT probe_id, vec_id, cos_e6, margin_bp,
       |       CAST(row_number() OVER (PARTITION BY probe_id
       |         ORDER BY margin_bp DESC, vec_id) AS BIGINT) AS mrk
       |FROM pairs ORDER BY probe_id, mrk""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "o54_vec_distance" -> o54,
    "o56_ann_topk" -> o56,
    "q_bitext_mine" -> bitextMine,
    "q_ann_ivf" -> ivf,
    "q_contrastive_pairs" -> contrastive,
    "q_knn_eval" -> knnEval,
    "q_ann_ivf_upsert" -> ivfUpsert,
    "q_ann_drift" -> annDrift,
    "q_ann_recall" -> annRecall,
    "q_ann_recall_ivf" -> ivfRecall,
    "q_ann_recall_nsw" -> nswRecall,
    "q_ann_recall_hnsw" -> hnswRecall,
    "q_pq_encode" -> pqEncode,
    "q_ann_recall_pq" -> pqRecall,
    "q_ann_recall_int8" -> int8Recall,
    "q_mmr_rerank" -> mmrRerank,
    "o37_cluster_centroids" -> o37,
    "o12_array_overlap" -> o12,
    "o41_f1_eval" -> o41)

  /** The complete q_pq_encode twin: per-subspace nearest-codeword
    * replay from the codebook export (strict `<` ⇒ lowest code on
    * ties). Shared with the q_index_persist manifest oracle (r17).
    */
  private[graft] def pqEncodeSql: String =
    pqEncodeSqlOver("SELECT vec_id, e FROM emb")

  /** [[pqEncodeSql]] generalized over the encoded vector set (r18): the
    * q_index_persist_upsert pq_codes twin encodes `emb ∪ delta` with
    * the SAME codebook export and assignment rule.
    */
  private[graft] def pqEncodeSqlOver(srcSelect: String): String =
    s"""WITH cents AS (SELECT j, c, centroid FROM '$pqExportPath/*.parquet'),
       |emb AS (SELECT vec_id, e FROM $embSql),
       |src AS ($srcSelect),
       |sub AS (
       |  SELECT vec_id, j, e[j*$PqDSub+1 : j*$PqDSub+$PqDSub] AS sv
       |  FROM src CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS j))
       |SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(code AS BIGINT) AS code FROM (
       |  SELECT s.vec_id, s.j, c.c AS code,
       |         row_number() OVER (PARTITION BY s.vec_id, s.j
       |           ORDER BY list_sum(list_transform(generate_series(1, $PqDSub),
       |             i -> (s.sv[i]-c.centroid[i])*(s.sv[i]-c.centroid[i]))), c.c) AS rk
       |  FROM sub s JOIN cents c ON c.j = s.j)
       |WHERE rk = 1""".stripMargin

  /** The shared `cents`/`emb`/`assigned` CTE block replaying the IVF
    * list assignment from the centroid export — the q_ann_ivf rules
    * (exact squared-L2 in index order, strict `<` ⇒ lowest cluster on
    * ties). Reused by the q_ann_ivf twin and the q_index_persist
    * manifest oracle (r17).
    */
  /** A `$name` CTE assigning each row of `src(vec_id, e)` to its
    * nearest exported centroid by THE replayable rule (index-order
    * squared L2, strict `<` ⇒ row_number tie to the lowest cluster).
    * The one definition every twin that replays list assignment
    * composes (r17 review: the rule had drifted into three copies —
    * the r12/r13 history shows it changes, and a copy would not
    * follow).
    */
  private[graft] def assignCteOver(src: String, name: String): String = {
    val sqDist = (a: String, b: String) =>
      s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"
    s"""$name AS (
       |  SELECT vec_id, e, cluster FROM (
       |    SELECT a.vec_id, a.e, c.cluster,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${sqDist("a.e", "c.centroid")}, c.cluster) AS ark
       |    FROM $src a CROSS JOIN cents c)
       |  WHERE ark = 1)""".stripMargin
  }

  private[graft] def ivfAssignCtes: String =
    s"""cents AS (SELECT cluster, centroid FROM '$ivfExportPath/*.parquet'),
       |emb AS (SELECT vec_id, e FROM $embSql),
       |${assignCteOver("emb", "assigned")}""".stripMargin

  /** The complete q_ann_ivf twin: centroid-export replay of list
    * assignment, probe→list ranking, and in-list cosine top-k.
    * Parameterized over the probe predicate (r17) so the streaming
    * serve twin (`q_stream_ann_serve`, 50 probes) composes the SAME
    * replay block as the 5-probe batch query and the two can't drift.
    */
  private[graft] def ivfTopkSql: String = ivfTopkSqlFor("vec_id < 5")

  private[graft] def ivfTopkSqlFor(probePred: String): String =
    ivfTopkSqlOver("assigned", "", probePred)

  /** The +0.05 / +200000 upsert delta as a SELECT over the `emb` CTE —
    * ONE home (r18) composed by the q_ann_ivf_upsert corpus, the
    * q_ann_drift delta, and the q_index_persist_upsert arms; the
    * mutation rule changed copies would not follow (r17 review lesson).
    */
  private[graft] val upsertDeltaSelectSql: String =
    "SELECT vec_id + 200000 AS vec_id, list_transform(e, x -> x + 0.05) AS e FROM emb"

  /** Extra CTEs + relation name replaying the APPENDED lists (standing
    * assignment ∪ delta assigned to the same exported centroids by the
    * same rule) — the q_index_persist_upsert serve twin plugs these
    * into [[ivfTopkSqlOver]].
    */
  private[graft] val upsertAssignedCtes: String =
    s"""demb AS ($upsertDeltaSelectSql),
       |${assignCteOver("demb", "dass")},
       |assigned_u AS (SELECT vec_id, e, cluster FROM assigned
       |               UNION ALL SELECT vec_id, e, cluster FROM dass)""".stripMargin

  /** [[ivfTopkSqlFor]] generalized over the assigned relation (r18 —
    * the q_index_persist_upsert twin searches the UNIONED lists while
    * the standing twins keep `assigned`): `extraCtes` (comma-free) is
    * spliced after the shared assignment block.
    */
  private[graft] def ivfTopkSqlOver(assignedRel: String, extraCtes: String,
      probePred: String): String =
    s"""WITH $ivfAssignCtes,
       |${if (extraCtes.isEmpty) "" else extraCtes + ",\n"}probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE $probePred),
       |plists AS (
       |  SELECT probe_id, pv, cluster FROM (
       |    SELECT p.probe_id, p.pv, c.cluster,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
       |    FROM probes p CROSS JOIN cents c)
       |  WHERE crk <= 4)
       |SELECT probe_id, vec_id, cos, rk FROM (
       |  SELECT l.probe_id, a.vec_id,
       |         round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 AS cos,
       |         CAST(row_number() OVER (PARTITION BY l.probe_id
       |           ORDER BY round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 DESC, a.vec_id) AS BIGINT) AS rk
       |  FROM plists l JOIN $assignedRel a ON a.cluster = l.cluster)
       |WHERE rk <= 10""".stripMargin

  /** q_ann_recall_nsw twin (r13, VERDICT r12 #4): replays the bounded
    * best-first walk from the exported per-list adjacency
    * ([[nswExportPath]]) with a RECURSIVE CTE carrying the walk state
    * (visited / frontier / results lists) per (probe, list):
    *  - one step = pop the frontier's max-(cos, −id) candidate
    *    (struct lists sort lexicographically, so `list_sort(…,'DESC')[1]`
    *    with nid = −id is exactly the Scala PriorityQueue ordering),
    *  - stop when the frontier is empty or the popped candidate cannot
    *    improve the worst of efSearch kept results (AnnNsw.topK's
    *    termination, double-compare on the raw cosines),
    *  - otherwise splice in the unvisited neighbours, re-trim results
    *    to the top efSearch by (cos desc, id asc) — set-equivalent to
    *    the sequential push/evict because top-k under a total order is
    *    batch-order independent.
    * The walk cosine is AnnNsw.cosine — dot / sqrt(na·nb) with the
    * zero guard, which differs in the last ulp from the o56 helper's
    * dot / (sqrt(na)·sqrt(nb)) — while the scanned/exact legs use the
    * o56 form; BOTH must be mirrored exactly or rank ties flip.
    * Walks run once per DISTINCT (probe, list) and join back to the
    * nProbe variants. Validated bit-exact against the engine at
    * sf0.001 AND sf0.1 (where lists ≈ 125 > efSearch and the
    * termination branch actually fires) before wiring.
    */
  private def nswRecallSql: String = {
    val EF = 32 // AnnNsw.topK efSearch default — the declared query uses it
    val sqDist = (a: String, b: String) =>
      s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"
    val dotS = (a: String, b: String) =>
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i]))"
    val cosNsw = (a: String, b: String) =>
      s"(CASE WHEN ${dotS(a, a)} = 0 OR ${dotS(b, b)} = 0 THEN 0.0 " +
        s"ELSE ${dotS(a, b)} / sqrt(${dotS(a, a)} * ${dotS(b, b)}) END)"
    s"""WITH RECURSIVE
       |cents AS (SELECT cluster, centroid FROM '$ivfExportPath/*.parquet'),
       |emb AS (SELECT vec_id, e FROM $embSql),
       |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE vec_id < $RecallProbes),
       |ranked AS (
       |  SELECT p.probe_id, p.pv, c.cluster,
       |         row_number() OVER (PARTITION BY p.probe_id
       |           ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
       |  FROM probes p CROSS JOIN cents c),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cents),
       |variants AS (
       |  SELECT CAST(greatest(1, n // 4) AS BIGINT) AS n_probe FROM nl
       |  UNION ALL SELECT n FROM nl),
       |graph AS (SELECT cluster, vec_id, e, nbrs FROM '$nswExportPath/*.parquet'),
       |gmap AS (
       |  SELECT cluster, map(list(vec_id), list(struct_pack(e := e, nbrs := nbrs))) AS gm
       |  FROM graph GROUP BY cluster),
       |entries AS (SELECT cluster, min(vec_id) AS entry FROM graph GROUP BY cluster),
       |maxnp AS (SELECT max(n_probe) AS m FROM variants),
       |pairs AS (
       |  SELECT DISTINCT r.probe_id, r.pv, r.cluster
       |  FROM ranked r, maxnp WHERE r.crk <= maxnp.m),
       |walk AS (
       |  SELECT p.probe_id, p.cluster, p.pv,
       |         [en.entry] AS visited,
       |         [struct_pack(c := ${cosNsw("g.gm[en.entry][1].e", "p.pv")}, nid := -en.entry)] AS frontier,
       |         [struct_pack(c := ${cosNsw("g.gm[en.entry][1].e", "p.pv")}, nid := -en.entry)] AS results,
       |         false AS done
       |  FROM pairs p JOIN entries en USING (cluster) JOIN gmap g USING (cluster)
       |  UNION ALL
       |  SELECT probe_id, cluster, pv,
       |         CASE WHEN stop THEN visited ELSE visited || unvis END AS visited,
       |         CASE WHEN stop THEN frontier_rest ELSE frontier_rest || news END AS frontier,
       |         CASE WHEN stop THEN results ELSE list_sort(results || news, 'DESC')[1:$EF] END AS results,
       |         stop AS done
       |  FROM (
       |    SELECT probe_id, cluster, pv, visited, frontier_rest, results, stop,
       |           CASE WHEN stop THEN [] ELSE list_filter(gm[-best.nid][1].nbrs,
       |             x -> NOT list_contains(visited, x)) END AS unvis,
       |           CASE WHEN stop THEN [] ELSE list_transform(
       |             list_filter(gm[-best.nid][1].nbrs, x -> NOT list_contains(visited, x)),
       |             x -> struct_pack(c := ${cosNsw("gm[x][1].e", "pv")}, nid := -x)) END AS news
       |    FROM (
       |      SELECT w.probe_id, w.cluster, w.pv, w.visited, w.results, g.gm,
       |             list_sort(w.frontier, 'DESC')[1] AS best,
       |             list_sort(w.frontier, 'DESC')[2:] AS frontier_rest,
       |             len(w.frontier) = 0 OR (len(w.results) >= $EF AND
       |               list_sort(w.frontier, 'DESC')[1].c <
       |                 list_min(list_transform(w.results, r -> r.c))) AS stop
       |      FROM walk w JOIN gmap g USING (cluster)
       |      WHERE NOT w.done))),
       |hits AS (
       |  SELECT probe_id, cluster, unnest(results, recursive := true)
       |  FROM walk WHERE done),
       |walked_topk AS (
       |  SELECT n_probe, probe_id, vec_id FROM (
       |    SELECT v.n_probe, h.probe_id, -h.nid AS vec_id,
       |           row_number() OVER (PARTITION BY v.n_probe, h.probe_id
       |             ORDER BY round(h.c, 6) + 0.0 DESC, -h.nid) AS rk
       |    FROM variants v
       |    JOIN ranked r ON r.crk <= v.n_probe
       |    JOIN hits h ON h.probe_id = r.probe_id AND h.cluster = r.cluster)
       |  WHERE rk <= $RecallK),
       |assigned AS (
       |  SELECT vec_id, e, cluster FROM (
       |    SELECT a.vec_id, a.e, c.cluster,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${sqDist("a.e", "c.centroid")}, c.cluster) AS ark
       |    FROM emb a CROSS JOIN cents c)
       |  WHERE ark = 1),
       |scanned_topk AS (
       |  SELECT n_probe, probe_id, vec_id FROM (
       |    SELECT v.n_probe, r.probe_id, a.vec_id,
       |           row_number() OVER (PARTITION BY v.n_probe, r.probe_id
       |             ORDER BY round(${cosineSimilaritySql("a.e", "r.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
       |    FROM variants v
       |    JOIN ranked r ON r.crk <= v.n_probe
       |    JOIN assigned a ON a.cluster = r.cluster)
       |  WHERE rk <= $RecallK),
       |exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, a.vec_id,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
       |    FROM emb a CROSS JOIN probes p)
       |  WHERE rk <= $RecallK),
       |he AS (
       |  SELECT n_probe, probe_id, CAST(count(*) AS BIGINT) AS h_exact
       |  FROM walked_topk JOIN exact USING (probe_id, vec_id)
       |  GROUP BY n_probe, probe_id),
       |hs AS (
       |  SELECT n_probe, probe_id, CAST(count(*) AS BIGINT) AS h_scan
       |  FROM walked_topk w
       |  WHERE EXISTS (SELECT 1 FROM scanned_topk s
       |                WHERE s.n_probe = w.n_probe AND s.probe_id = w.probe_id
       |                  AND s.vec_id = w.vec_id)
       |  GROUP BY n_probe, probe_id)
       |SELECT v.n_probe AS n_probe, p.probe_id AS probe_id,
       |       CAST(coalesce(he.h_exact, 0) AS BIGINT) AS n_hits,
       |       CAST((coalesce(he.h_exact, 0) * 10000) // $RecallK AS BIGINT) AS recall_bp,
       |       CAST((coalesce(hs.h_scan, 0) * 10000) // $RecallK AS BIGINT) AS walk_bp
       |FROM variants v
       |CROSS JOIN (SELECT vec_id AS probe_id FROM emb WHERE vec_id < $RecallProbes) p
       |LEFT JOIN he ON he.n_probe = v.n_probe AND he.probe_id = p.probe_id
       |LEFT JOIN hs ON hs.n_probe = v.n_probe AND hs.probe_id = p.probe_id""".stripMargin
  }

  /** q_ann_recall_hnsw twin (r15): the descent over the layers export as
    * a recursive CTE — state (layer, cur, curc) per (probe, list); one
    * step = argmax neighbour by (cos desc, id asc) at the current layer
    * (the proven list_sort-struct idiom), move only on a STRICT cosine
    * improvement, else drop a layer; rows stop recursing at layer 0 —
    * feeding the descended entries into the UNCHANGED bounded-walk CTE
    * of [[nswRecallSql]]. Both cosines are the AnnNsw form
    * (dot / sqrt(na·nb)); the exact leg uses the o56 form, as in the
    * NSW twin. Layer membership is nested by construction, so `cur` is
    * always a key of every layer below it.
    */
  private def hnswRecallSql: String = {
    val EF = 32
    val dotS = (a: String, b: String) =>
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i]))"
    val cosNsw = (a: String, b: String) =>
      s"(CASE WHEN ${dotS(a, a)} = 0 OR ${dotS(b, b)} = 0 THEN 0.0 " +
        s"ELSE ${dotS(a, b)} / sqrt(${dotS(a, a)} * ${dotS(b, b)}) END)"
    s"""WITH RECURSIVE
       |cents AS (SELECT cluster, centroid FROM '$ivfExportPath/*.parquet'),
       |emb AS (SELECT vec_id, e FROM $embSql),
       |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE vec_id < $HnswProbes),
       |ranked AS (
       |  SELECT p.probe_id, p.pv, c.cluster,
       |         row_number() OVER (PARTITION BY p.probe_id
       |           ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
       |  FROM probes p CROSS JOIN cents c),
       |np AS (SELECT CAST(greatest(1, count(*) // 4) AS BIGINT) AS n_probe FROM cents),
       |graph AS (SELECT cluster, vec_id, e, nbrs FROM '$nswExportPath/*.parquet'),
       |layers AS (SELECT cluster, layer, vec_id, nbrs FROM '$hnswExportPath/*.parquet'),
       |gmap AS (
       |  SELECT cluster, map(list(vec_id), list(struct_pack(e := e, nbrs := nbrs))) AS gm
       |  FROM graph GROUP BY cluster),
       |lmap AS (
       |  SELECT cluster, layer, map(list(vec_id), list(nbrs)) AS lm
       |  FROM layers GROUP BY cluster, layer),
       |entries AS (SELECT cluster, min(vec_id) AS entry FROM graph GROUP BY cluster),
       |tops AS (
       |  SELECT l.cluster, l.layer AS top_layer, min(l.vec_id) AS tentry
       |  FROM layers l
       |  JOIN (SELECT cluster, max(layer) AS ml FROM layers GROUP BY cluster) t
       |    ON t.cluster = l.cluster AND l.layer = t.ml
       |  GROUP BY l.cluster, l.layer),
       |pairs AS (
       |  SELECT r.probe_id, r.pv, r.cluster
       |  FROM ranked r, np WHERE r.crk <= np.n_probe),
       |descent AS (
       |  SELECT p.probe_id, p.cluster, p.pv,
       |         CAST(coalesce(t.top_layer, 0) AS BIGINT) AS layer,
       |         coalesce(t.tentry, en.entry) AS cur,
       |         ${cosNsw("g.gm[coalesce(t.tentry, en.entry)][1].e", "p.pv")} AS curc
       |  FROM pairs p
       |  JOIN entries en USING (cluster)
       |  LEFT JOIN tops t USING (cluster)
       |  JOIN gmap g USING (cluster)
       |  UNION ALL
       |  SELECT probe_id, cluster, pv,
       |         CASE WHEN moved THEN layer ELSE layer - 1 END AS layer,
       |         CASE WHEN moved THEN -best.nid ELSE cur END AS cur,
       |         CASE WHEN moved THEN best.c ELSE curc END AS curc
       |  FROM (
       |    SELECT probe_id, cluster, pv, layer, cur, curc, best,
       |           best IS NOT NULL AND best.c > curc AS moved
       |    FROM (
       |      SELECT d.probe_id, d.cluster, d.pv, d.layer, d.cur, d.curc,
       |             list_sort(list_transform(l.lm[d.cur][1],
       |               x -> struct_pack(c := ${cosNsw("g.gm[x][1].e", "d.pv")}, nid := -x)),
       |               'DESC')[1] AS best
       |      FROM descent d
       |      JOIN lmap l ON l.cluster = d.cluster AND l.layer = d.layer
       |      JOIN gmap g ON g.cluster = d.cluster
       |      WHERE d.layer >= 1))),
       |fentries AS (
       |  SELECT probe_id, cluster, pv, cur AS entry FROM descent WHERE layer = 0),
       |walk AS (
       |  SELECT f.probe_id, f.cluster, f.pv,
       |         [f.entry] AS visited,
       |         [struct_pack(c := ${cosNsw("g.gm[f.entry][1].e", "f.pv")}, nid := -f.entry)] AS frontier,
       |         [struct_pack(c := ${cosNsw("g.gm[f.entry][1].e", "f.pv")}, nid := -f.entry)] AS results,
       |         false AS done
       |  FROM fentries f JOIN gmap g USING (cluster)
       |  UNION ALL
       |  SELECT probe_id, cluster, pv,
       |         CASE WHEN stop THEN visited ELSE visited || unvis END AS visited,
       |         CASE WHEN stop THEN frontier_rest ELSE frontier_rest || news END AS frontier,
       |         CASE WHEN stop THEN results ELSE list_sort(results || news, 'DESC')[1:$EF] END AS results,
       |         stop AS done
       |  FROM (
       |    SELECT probe_id, cluster, pv, visited, frontier_rest, results, stop,
       |           CASE WHEN stop THEN [] ELSE list_filter(gm[-best.nid][1].nbrs,
       |             x -> NOT list_contains(visited, x)) END AS unvis,
       |           CASE WHEN stop THEN [] ELSE list_transform(
       |             list_filter(gm[-best.nid][1].nbrs, x -> NOT list_contains(visited, x)),
       |             x -> struct_pack(c := ${cosNsw("gm[x][1].e", "pv")}, nid := -x)) END AS news
       |    FROM (
       |      SELECT w.probe_id, w.cluster, w.pv, w.visited, w.results, g.gm,
       |             list_sort(w.frontier, 'DESC')[1] AS best,
       |             list_sort(w.frontier, 'DESC')[2:] AS frontier_rest,
       |             len(w.frontier) = 0 OR (len(w.results) >= $EF AND
       |               list_sort(w.frontier, 'DESC')[1].c <
       |                 list_min(list_transform(w.results, r -> r.c))) AS stop
       |      FROM walk w JOIN gmap g USING (cluster)
       |      WHERE NOT w.done))),
       |hits AS (
       |  SELECT probe_id, cluster, unnest(results, recursive := true)
       |  FROM walk WHERE done),
       |walked_topk AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT h.probe_id, -h.nid AS vec_id,
       |           row_number() OVER (PARTITION BY h.probe_id
       |             ORDER BY round(h.c, 6) + 0.0 DESC, -h.nid) AS rk
       |    FROM hits h)
       |  WHERE rk <= $RecallK),
       |exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, a.vec_id,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
       |    FROM emb a CROSS JOIN probes p)
       |  WHERE rk <= $RecallK),
       |he AS (
       |  SELECT probe_id, CAST(count(*) AS BIGINT) AS h
       |  FROM walked_topk JOIN exact USING (probe_id, vec_id)
       |  GROUP BY probe_id)
       |SELECT p.probe_id AS probe_id,
       |       CAST(coalesce(he.h, 0) AS BIGINT) AS n_hits,
       |       CAST((coalesce(he.h, 0) * 10000) // $RecallK AS BIGINT) AS recall_bp
       |FROM probes p LEFT JOIN he USING (probe_id)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_ann_recall_hnsw" -> hnswRecallSql,
    "q_ann_recall_nsw" -> nswRecallSql,
    "q_ann_recall_int8" ->
      s"""WITH emb AS (SELECT vec_id, e FROM $embSql),
         |dims AS (
         |  SELECT j, max(abs(x)) AS m
         |  FROM (SELECT unnest(generate_series(1, len(e))) AS j, unnest(e) AS x FROM emb)
         |  GROUP BY j),
         |marr AS MATERIALIZED (SELECT list(m ORDER BY j) AS ms FROM dims),
         |qc AS MATERIALIZED (
         |  SELECT vec_id, e,
         |         list_transform(generate_series(1, len(e)),
         |           i -> CASE WHEN ms[i] = 0 THEN CAST(0 AS DOUBLE)
         |                     ELSE CAST(floor(e[i] / ms[i] * 127.0 + 0.5) AS DOUBLE) END) AS q
         |  FROM emb CROSS JOIN marr),
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS probe_id, e AS pv, q AS pq FROM qc WHERE vec_id < $RecallProbes),
         |truth AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${dotSql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM qc a CROSS JOIN probes p)
         |  WHERE rk <= $RecallK),
         |i8 AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY CAST(${dotSql("a.q", "p.pq")} AS BIGINT) DESC, a.vec_id) AS rk
         |    FROM qc a CROSS JOIN probes p)
         |  WHERE rk <= $RecallK),
         |h AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM i8 JOIN truth USING (probe_id, vec_id) GROUP BY probe_id)
         |SELECT p.probe_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       (CAST(coalesce(h.n_hits, 0) AS BIGINT) * 10000) // $RecallK AS recall_bp
         |FROM (SELECT probe_id FROM probes) p LEFT JOIN h USING (probe_id)""".stripMargin,
    "o54_vec_distance" ->
      s"""SELECT a.vec_id,
         |       round(${l2DistanceSql("a.e", "b.pv")}, 6) + 0.0 AS l2,
         |       round(${cosineSimilaritySql("a.e", "b.pv")}, 6) + 0.0 AS cos
         |FROM $embSql a, (SELECT e AS pv FROM $embSql WHERE vec_id = 0) b""".stripMargin,
    "o56_ann_topk" ->
      s"""SELECT probe_id, rk, vec_id, cos FROM (
         |  SELECT p.probe_id, a.vec_id, c.cos,
         |         row_number() OVER (PARTITION BY p.probe_id ORDER BY c.cos DESC, a.vec_id) AS rk
         |  FROM $embSql a
         |  CROSS JOIN (SELECT vec_id AS probe_id, e AS pv FROM $embSql WHERE vec_id < 5) p
         |  CROSS JOIN LATERAL (SELECT round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 AS cos) c)
         |WHERE rk <= 10""".stripMargin,
    "o37_cluster_centroids" ->
      """SELECT label, dim,
        |       round(CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) + 0.0 AS mean
        |FROM (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         unnest(generate_series(1, len(embedding))) AS dim,
        |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings)
        |GROUP BY label, dim""".stripMargin,
    "q_ann_recall" -> {
      val bucket = (1 to 8).map(i =>
        s"CASE WHEN e[$i] > 0 THEN ${1 << (8 - i)} ELSE 0 END").mkString(" + ")
      val masks9 = (0 +: (0 to 7).map(1 << _)).map(m => s"xor(pb, $m)").mkString(", ")
      s"""WITH bk AS (
         |  SELECT vec_id, e, ($bucket) AS bucket FROM $embSql),
         |probes AS (
         |  SELECT vec_id AS probe_id, e AS pv, bucket AS pb FROM bk WHERE vec_id < $RecallProbes),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM bk a CROSS JOIN probes p)
         |  WHERE rk <= $RecallK),
         |lsh AS (
         |  SELECT 'lsh1' AS mode, probe_id, vec_id FROM (
         |    SELECT p.probe_id, b.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${cosineSimilaritySql("b.e", "p.pv")}, 6) + 0.0 DESC, b.vec_id) AS rk
         |    FROM probes p JOIN bk b ON p.pb = b.bucket)
         |  WHERE rk <= $RecallK
         |  UNION ALL
         |  SELECT 'lsh9' AS mode, probe_id, vec_id FROM (
         |    SELECT p.probe_id, b.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${cosineSimilaritySql("b.e", "p.pv")}, 6) + 0.0 DESC, b.vec_id) AS rk
         |    FROM (SELECT probe_id, pv, unnest([$masks9]) AS pbucket FROM probes) p
         |    JOIN bk b ON p.pbucket = b.bucket)
         |  WHERE rk <= $RecallK)
         |SELECT mode, probe_id, count(*) AS n_hits,
         |       (count(*) * 10000) // $RecallK AS recall_bp
         |FROM lsh JOIN exact USING (probe_id, vec_id)
         |GROUP BY mode, probe_id""".stripMargin
    },
    // IVF replay over the centroid export (r12): assignment mirrors
    // AnnIvf.assignNearest EXACTLY — squared L2 (no sqrt), index-order
    // accumulation, strict-< ⇒ row_number tie-break to the lowest
    // cluster id; the probe→list ranking mirrors topK's full-precision
    // sqrt l2 with the same (cdist, cluster) tie-break; the in-list
    // cosine top-k is the proven o56 convention.
    "q_ann_ivf" -> ivfTopkSql,
    "q_bitext_mine" -> bitextSql,
    // Centroid-export replay of the triplet mining: q_ann_ivf's rules
    // with crk <= 2 (own list + hard-negative list), self excluded
    // before ranking, per-(probe, list) argmax, margin on the rounded
    // cosines. `ranked` is consumed by both triplet legs → MATERIALIZED.
    "q_contrastive_pairs" -> {
      s"""WITH $ivfAssignCtes,
         |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb
         |           WHERE vec_id < $ContrastiveProbes),
         |plists AS (
         |  SELECT probe_id, pv, cluster, crk FROM (
         |    SELECT p.probe_id, p.pv, c.cluster,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
         |    FROM probes p CROSS JOIN cents c)
         |  WHERE crk <= 2),
         |ranked AS MATERIALIZED (
         |  SELECT probe_id, crk, vec_id, cos FROM (
         |    SELECT l.probe_id, l.crk, a.vec_id,
         |           round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 AS cos,
         |           row_number() OVER (PARTITION BY l.probe_id, l.crk
         |             ORDER BY round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM plists l JOIN assigned a
         |      ON a.cluster = l.cluster AND a.vec_id <> l.probe_id)
         |  WHERE rk = 1)
         |SELECT p.probe_id, p.vec_id AS pos_id, p.cos AS pos_cos,
         |       n.vec_id AS neg_id, n.cos AS neg_cos,
         |       round(p.cos - n.cos, 6) + 0.0 AS margin
         |FROM ranked p JOIN ranked n
         |  ON n.probe_id = p.probe_id AND p.crk = 1 AND n.crk = 2""".stripMargin
    },
    // Same centroid-export replay as q_ann_ivf with self excluded
    // before ranking, plus the integer vote layer.
    "q_knn_eval" -> {
      val sqDist = (a: String, b: String) =>
        s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"
      s"""WITH cents AS (SELECT cluster, centroid FROM '$ivfExportPath/*.parquet'),
         |emb AS (SELECT vec_id, label, e FROM $embSql),
         |assigned AS (
         |  SELECT vec_id, e, cluster FROM (
         |    SELECT a.vec_id, a.e, c.cluster,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${sqDist("a.e", "c.centroid")}, c.cluster) AS ark
         |    FROM emb a CROSS JOIN cents c)
         |  WHERE ark = 1),
         |probes AS (SELECT vec_id AS probe_id, CAST(label AS BIGINT) AS truth, e AS pv
         |           FROM emb WHERE vec_id % $KnnProbeMod = 0),
         |plists AS (
         |  SELECT probe_id, truth, pv, cluster FROM (
         |    SELECT p.probe_id, p.truth, p.pv, c.cluster,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
         |    FROM probes p CROSS JOIN cents c)
         |  WHERE crk <= $KnnNProbe),
         |neigh AS (
         |  SELECT probe_id, truth, vec_id FROM (
         |    SELECT l.probe_id, l.truth, a.vec_id,
         |           row_number() OVER (PARTITION BY l.probe_id
         |             ORDER BY round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM plists l JOIN assigned a
         |      ON a.cluster = l.cluster AND a.vec_id <> l.probe_id)
         |  WHERE rk <= $KnnK),
         |votes AS (
         |  SELECT probe_id, truth, CAST(e2.label AS BIGINT) AS nlabel,
         |         CAST(count(*) AS BIGINT) AS votes
         |  FROM neigh JOIN emb e2 USING (vec_id)
         |  GROUP BY probe_id, truth, e2.label)
         |SELECT probe_id, nlabel AS pred, truth, votes,
         |       CAST(CASE WHEN nlabel = truth THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY votes DESC, nlabel) AS vrk
         |      FROM votes)
         |WHERE vrk = 1""".stripMargin
    },
    // Same centroid-export replay, both nProbe variants at once (a
    // variants×ranked join), hits counted against the exact top-10 —
    // the recall METRIC is the hash-compared result.
    "q_ann_recall_ivf" -> {
      val sqDist = (a: String, b: String) =>
        s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"
      s"""WITH cents AS (SELECT cluster, centroid FROM '$ivfExportPath/*.parquet'),
         |emb AS (SELECT vec_id, e FROM $embSql),
         |assigned AS (
         |  SELECT vec_id, e, cluster FROM (
         |    SELECT a.vec_id, a.e, c.cluster,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${sqDist("a.e", "c.centroid")}, c.cluster) AS ark
         |    FROM emb a CROSS JOIN cents c)
         |  WHERE ark = 1),
         |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE vec_id < $RecallProbes),
         |ranked AS (
         |  SELECT p.probe_id, p.pv, c.cluster,
         |         row_number() OVER (PARTITION BY p.probe_id
         |           ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
         |  FROM probes p CROSS JOIN cents c),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cents),
         |variants AS (
         |  SELECT CAST(greatest(1, n // 4) AS BIGINT) AS n_probe FROM nl
         |  UNION ALL SELECT n FROM nl),
         |topk AS (
         |  SELECT n_probe, probe_id, vec_id FROM (
         |    SELECT v.n_probe, r.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY v.n_probe, r.probe_id
         |             ORDER BY round(${cosineSimilaritySql("a.e", "r.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM variants v
         |    JOIN ranked r ON r.crk <= v.n_probe
         |    JOIN assigned a ON a.cluster = r.cluster)
         |  WHERE rk <= $RecallK),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM emb a CROSS JOIN probes p)
         |  WHERE rk <= $RecallK)
         |SELECT n_probe, probe_id, CAST(count(*) AS BIGINT) AS n_hits,
         |       CAST((count(*) * 10000) // $RecallK AS BIGINT) AS recall_bp
         |FROM topk JOIN exact USING (probe_id, vec_id)
         |GROUP BY n_probe, probe_id""".stripMargin
    },
    // At nProbe == nList the probed lists cover the whole corpus, so
    // the upsert probe is EXACT brute-force cosine top-3 over
    // (original ∪ perturbed copies) — no dependence on the quantizer at
    // all, which is what makes this SQL-expressible without any export.
    "q_ann_ivf_upsert" ->
      s"""WITH emb AS (SELECT vec_id, e FROM $embSql),
         |corpus AS (
         |  SELECT vec_id, e FROM emb
         |  UNION ALL
         |  $upsertDeltaSelectSql),
         |probes AS (
         |  SELECT vec_id AS probe_id, e AS pv FROM corpus
         |  WHERE vec_id >= 200000 AND vec_id < 200020)
         |SELECT probe_id, rk, vec_id, cos FROM (
         |  SELECT p.probe_id, a.vec_id,
         |         round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 AS cos,
         |         CAST(row_number() OVER (PARTITION BY p.probe_id
         |           ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS BIGINT) AS rk
         |  FROM corpus a CROSS JOIN probes p)
         |WHERE rk <= 3""".stripMargin,
    // Drift replay: gen-0 assignment from the shared ivfAssignCtes,
    // gen-1 = the upsert twin's +0.05 delta assigned by the same rule;
    // per-row round(d·1e6) BEFORE the sum (integer-sum order freedom),
    // mean as integer //.
    "q_ann_drift" -> {
      s"""WITH $ivfAssignCtes,
         |delta AS ($upsertDeltaSelectSql),
         |${assignCteOver("delta", "dass")},
         |allg AS (SELECT 0 AS gen, e, cluster FROM assigned
         |         UNION ALL SELECT 1 AS gen, e, cluster FROM dass),
         |d AS (SELECT gen,
         |             CAST(round(${l2DistanceSql("b.e", "c.centroid")} * 1000000) AS BIGINT) AS d_e6
         |      FROM allg b JOIN cents c USING (cluster))
         |SELECT CAST(gen AS BIGINT) AS gen, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(d_e6) AS BIGINT) AS sum_dist_e6,
         |       CAST(sum(d_e6) // count(*) AS BIGINT) AS mean_dist_e6
         |FROM d GROUP BY gen""".stripMargin
    },
    // PQ encode replay: per-(vector, subspace) exact nearest-codeword
    // over the codebook export — the q_ann_ivf assignment rule applied
    // per subspace (index-order squared L2, strict < ⇒ row_number tie
    // to the lowest code).
    "q_pq_encode" -> pqEncodeSql,
    // (q_pq_encode twin lives in pqEncodeSql — shared with the
    // q_index_persist manifest oracle, r17)
    // PQ ADC recall replay: same encode CTE, codebook assembled into one
    // ordered list, ADC = nested list_sum folds (the proven
    // fold/list_sum parity pair), rank by (rounded adc, vec_id) against
    // the exact L2 top-10.
    "q_ann_recall_pq" ->
      s"""WITH cents AS (SELECT j, c, centroid FROM '$pqExportPath/*.parquet'),
         |emb AS (SELECT vec_id, e FROM $embSql),
         |cb AS (SELECT list(centroid ORDER BY j * $PqK + c) AS cbl FROM cents),
         |sub AS (
         |  SELECT vec_id, j, e[j*$PqDSub+1 : j*$PqDSub+$PqDSub] AS sv
         |  FROM emb CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS j)),
         |assigned AS (
         |  SELECT vec_id, j, code FROM (
         |    SELECT s.vec_id, s.j, c.c AS code,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY list_sum(list_transform(generate_series(1, $PqDSub),
         |               i -> (s.sv[i]-c.centroid[i])*(s.sv[i]-c.centroid[i]))), c.c) AS rk
         |    FROM sub s JOIN cents c ON c.j = s.j)
         |  WHERE rk = 1),
         |codes_l AS (SELECT vec_id, list(code ORDER BY j) AS codes FROM assigned GROUP BY vec_id),
         |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE vec_id < $RecallProbes),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${l2DistanceSql("a.e", "p.pv")}, 6) + 0.0, a.vec_id) AS rk
         |    FROM emb a CROSS JOIN probes p)
         |  WHERE rk <= $RecallK),
         |adcscored AS (
         |  SELECT p.probe_id, t.vec_id,
         |         round(list_sum(list_transform(generate_series(0, ${PqM - 1}), j ->
         |           list_sum(list_transform(
         |             list_transform(generate_series(1, $PqDSub),
         |               i -> p.pv[j*$PqDSub+i] - cbl[j*$PqK + t.codes[j+1] + 1][i]),
         |             dd -> dd*dd)))), 6) + 0.0 AS adc
         |  FROM codes_l t CROSS JOIN probes p CROSS JOIN cb),
         |shortlist AS (
         |  SELECT probe_id, vec_id, rk FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id ORDER BY adc, vec_id) AS rk
         |    FROM adcscored)
         |  WHERE rk <= $PqShortlist),
         |adctop AS (
         |  SELECT 'adc' AS mode, probe_id, vec_id FROM shortlist WHERE rk <= $RecallK),
         |rrtop AS (
         |  SELECT 'adc_rr' AS mode, probe_id, vec_id FROM (
         |    SELECT s.probe_id, s.vec_id,
         |           row_number() OVER (PARTITION BY s.probe_id
         |             ORDER BY round(${l2DistanceSql("a.e", "p.pv")}, 6) + 0.0, s.vec_id) AS rk2
         |    FROM shortlist s
         |    JOIN emb a ON a.vec_id = s.vec_id
         |    JOIN probes p ON p.probe_id = s.probe_id)
         |  WHERE rk2 <= $RecallK)
         |SELECT t.mode, t.probe_id, CAST(count(*) AS BIGINT) AS n_hits,
         |       CAST((count(*) * 10000) // $RecallK AS BIGINT) AS recall_bp
         |FROM (SELECT * FROM adctop UNION ALL SELECT * FROM rrtop) t
         |JOIN exact e USING (probe_id, vec_id)
         |GROUP BY t.mode, t.probe_id""".stripMargin,
    // MMR replay: the greedy selection loop as a recursive CTE carrying
    // (selected list, remaining candidates) per probe — the Ward/NSW
    // pattern: no window or aggregate in the recursive term, the argmax
    // is list_sort of (s, −v, v) structs taken at [1] (= score DESC,
    // vec_id ASC). Scores use the exact Spark expression tree over the
    // same round-6 cosines.
    "q_mmr_rerank" ->
      s"""WITH RECURSIVE emb AS (SELECT vec_id, e FROM $embSql),
         |probes AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE vec_id < $MmrProbes),
         |cand AS (
         |  SELECT probe_id, vec_id, rel FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 AS rel,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC, a.vec_id) AS rk
         |    FROM emb a CROSS JOIN probes p
         |    WHERE a.vec_id <> p.probe_id)
         |  WHERE rk <= $MmrCand),
         |psims AS (
         |  SELECT a.probe_id, a.vec_id AS cid, b.vec_id AS sid,
         |         round(${cosineSimilaritySql("ea.e", "eb.e")}, 6) + 0.0 AS sim
         |  FROM cand a JOIN cand b ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id
         |  JOIN emb eb ON eb.vec_id = b.vec_id),
         |slists AS (
         |  SELECT probe_id, cid, list(struct_pack(sid := sid, sim := sim)) AS sl
         |  FROM psims GROUP BY probe_id, cid),
         |cstate AS (
         |  SELECT c.probe_id,
         |         list(struct_pack(vec_id := c.vec_id, rel := c.rel,
         |                          sl := coalesce(s.sl, []))) AS cands
         |  FROM cand c LEFT JOIN slists s ON s.probe_id = c.probe_id AND s.cid = c.vec_id
         |  GROUP BY c.probe_id),
         |mmr AS (
         |  SELECT probe_id, 0 AS step, CAST([] AS STRUCT(v BIGINT, s DOUBLE)[]) AS sel, cands
         |  FROM cstate
         |  UNION ALL
         |  SELECT probe_id, step + 1,
         |         list_append(sel, struct_pack(v := best.v, s := best.s)),
         |         list_filter(cands, c -> c.vec_id <> best.v)
         |  FROM (
         |    SELECT probe_id, step, sel, cands,
         |           list_sort(list_transform(cands, c -> struct_pack(
         |             s := CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * coalesce(
         |                    list_max(list_transform(
         |                      list_filter(c.sl, p -> list_contains(list_transform(sel, a -> a.v), p.sid)),
         |                      p -> p.sim)), CAST(-1.0 AS DOUBLE)),
         |             nv := -c.vec_id,
         |             v := c.vec_id)), 'DESC')[1] AS best
         |    FROM mmr WHERE step < $MmrK))
         |SELECT probe_id, CAST(i AS BIGINT) AS step, sel[i].v AS vec_id,
         |       round(sel[i].s, 6) + 0.0 AS score
         |FROM (SELECT probe_id, sel, unnest(generate_series(1, $MmrK)) AS i
         |      FROM mmr WHERE step = $MmrK)""".stripMargin,
    "o12_array_overlap" ->
      """SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ' ') AS labs
        |FROM documents
        |WHERE list_has_any(string_split(text, ' ')[1:5], ['data','row','fast','query','value'])""".stripMargin,
    "o41_f1_eval" ->
      """SELECT class, tp, fp, fn, (2*tp*10000) // greatest(2*tp + fp + fn, 1) AS f1_bp
        |FROM (
        |  SELECT c.class,
        |         CAST(sum(CASE WHEN e.vec_id % 3 = c.class AND CAST(e.label AS BIGINT) = c.class THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |         CAST(sum(CASE WHEN e.vec_id % 3 = c.class AND CAST(e.label AS BIGINT) <> c.class THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |         CAST(sum(CASE WHEN e.vec_id % 3 <> c.class AND CAST(e.label AS BIGINT) = c.class THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM embeddings e CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS class) c
        |  GROUP BY c.class)""".stripMargin)
}
