package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.clustering.GraphBuild

/** IVF (inverted-file) approximate nearest neighbour over an embedding
  * column — the "coarse quantizer + probe few lists" scale path for
  * O-56, complementing the exact brute-force baseline (`o56_ann_topk`)
  * and the sign-LSH bucket join (`q_dedup_embed`).
  *
  * Index: KMeans centroids partition the corpus into nList inverted
  * lists (`cluster` column — at rest this would be the partition key of
  * the index table, so a probe reads only its lists' files). Search:
  * each probe scores the nList centroids (tiny, broadcast), keeps its
  * `nProbe` nearest lists, and scans ONLY vectors in those lists via an
  * equi-join on the list id — corpus touched ≈ nProbe/nList of the data,
  * which is the entire point at 100 TB.
  *
  * With nProbe == nList this degrades to exact brute force (asserted in
  * tests); smaller nProbe trades recall for a proportional scan cut.
  */
object AnnIvf {

  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame, idCol: String)

  /** Sizing rule for the coarse quantizer: hold the inverted-list
    * LENGTH constant (~targetLen vectors/list) as the corpus grows, so
    * per-list work — the NSW graph build's exact in-list kNN
    * (quadratic in list length) and the per-probe scan/walk — is
    * corpus-independent. This is the rule the 100× rehearsal validated
    * (SCALE.md): a pinned nList at 100× data makes lists 100× longer
    * and the quadratic in-list build superlinear in the corpus
    * (measured 258× wall at 100× data before this rule was applied to
    * the declared queries).
    *
    * Floor 16 keeps small corpora at the historical width (bench SFs
    * are bit-identical). Cap 65536: past ~10⁵ lists the flat KMeans
    * coarse quantizer itself becomes the bottleneck and the centroid
    * table outgrows comfortable broadcast — at that scale train the
    * quantizer hierarchically (IVF over IVF shards, same seam) and
    * accept longer lists with an NN-descent in-list build.
    */
  def autoNList(corpus: Long, targetLen: Int = 500): Int =
    math.max(16, math.min(65536L, corpus / targetLen).toInt)

  /** Build the inverted lists: (id, e, cluster) + a centroid table.
    *
    * List membership is assigned by [[assignNearest]] over the FINAL
    * trained centroids (exact Σ(aᵢ−bᵢ)² in index order, strict `<`,
    * tie → lowest cluster id) rather than by `KMeansModel.transform`:
    * MLlib's predictor goes through `fastSquaredDistance`, whose
    * norm-based shortcut (‖a‖²+‖b‖²−2a·b within a relative-precision
    * guard) is not replayable outside MLlib, while the exact loop is
    * plain arithmetic ANY engine reproduces bit-for-bit from the
    * exported centroid doubles — which is what lets `q_ann_ivf` be
    * oracle-checked as SQL over the centroid export (r12, VERDICT r11
    * #6). It also makes build-time and append-time assignment
    * ([[appendToIndex]]) the SAME rule, so a vector lands on the same
    * list whether it arrived in the build or an upsert. One O(n·k)
    * pass, same cost as the transform it replaces.
    */
  def buildIndex(emb: DataFrame, idCol: String, arrCol: String,
      nList: Int): IvfIndex = {
    require(!Seq("e", "probe_id", "pv", "cluster", "crk").contains(idCol),
      s"idCol '$idCol' collides with an internal column name")
    val spark = emb.sparkSession
    import spark.implicits._
    // persisted: KMeans counts it, gathers its training rows, and the
    // inverted-list pass consumes it again — an index build reads the
    // corpus once
    val doubled = emb.select(col(idCol), VectorOps.toDoubleArr(col(arrCol)).as("e"))
      .persist()
    val (_, centers) = trainQuantizer(doubled, idCol, nList)
    val cents = centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "centroid")
      .select(col("cluster"), col("centroid").cast("array<double>").as("centroid"))
    // the materialized index: persisted so every topK call scans the
    // lists table, not the original corpus lineage. Materialized HERE
    // (count) so the scratch `doubled` cache can be dropped before the
    // index leaves the build — the returned IvfIndex then owns exactly
    // ONE persisted frame, which a cache-eviction hook can unpersist
    // without leaking the build-time intermediate (r12 hygiene).
    val assigned = assignNearest(doubled, idCol, cents).persist()
    assigned.count()
    doubled.unpersist()
    IvfIndex(assigned, cents, idCol)
  }

  /** Coarse-quantizer training, sized to what the quantizer is FOR: a
    * pure delegate to [[GraphBuild.microCluster]], whose fit runs
    * in-process over a bounded training set. Up to `sampleFloor` rows
    * (every bench SF) that set is the whole corpus; past it, a
    * DETERMINISTIC hash-stride sample on the id (stable under any
    * partitioning) with capped iterations, and only the final
    * assignment pass touches the full corpus: the FAISS convention
    * (~64–256 training points per centroid) because coarse-quantizer
    * quality barely moves recall when nProbe > 1, while full-corpus
    * Lloyd was the dominant index-build cost at scale (SCALE.md: ~50 s
    * of every index build at 200k vectors, k=400). With [[autoNList]]'s
    * 65536 cap the training set is bounded at ~4.2M rows (~2 GB of
    * driver doubles at 64 dims) regardless of corpus size; that far out
    * the one-machine fit is the bottleneck and the hierarchical
    * quantizer [[autoNList]] describes takes over. When the sample
    * engages (n > 64·nList), microCluster's k formula
    * min(nList, max(100, n/50)) collapses to exactly nList.
    */
  private def trainQuantizer(doubled: DataFrame, idCol: String, nList: Int,
      sampleFloor: Long = 50000L): (DataFrame, Array[Array[Double]]) =
    GraphBuild.microCluster(doubled, idCol, "e", maxMicro = nList,
      sampleFloor = sampleFloor)

  /** Append new vectors WITHOUT a rebuild (index maintenance for a
    * continuously refreshed corpus): each new vector is assigned to its
    * nearest EXISTING centroid — broadcast of the tiny centroid table +
    * a per-id argmin, no KMeans, no full-corpus pass — and unioned into
    * the inverted lists with a generation marker. At 100 TB this is the
    * only affordable ingest path: a rebuild re-clusters the whole
    * corpus; an append touches only the arriving batch. Recall for
    * appended vectors degrades as they drift from the frozen centroids —
    * [[assignDrift]] is the retrain signal.
    */
  def appendToIndex(index: IvfIndex, newVecs: DataFrame, arrCol: String): IvfIndex = {
    val nv = newVecs.select(col(index.idCol),
      VectorOps.toDoubleArr(col(arrCol)).as("e"))
    val assignedNew = assignNearest(nv, index.idCol, index.centroids)
      .withColumn("gen", lit(1))
    index.copy(assigned = withGen(index.assigned).unionByName(assignedNew))
  }

  // public for the same Catalyst-serializer reason as AnnGraph.GraphRow
  final case class AssignedRow(id: Long, e: Seq[Double], cluster: Int)

  /** Nearest-centroid assignment as ONE narrow pass: the centroid table
    * (bounded by [[autoNList]]'s cap, the same driver-bounded class as
    * the ≤800-centroid Ward input) rides in the task closure and every
    * vector computes its argmin in place. The previous shape —
    * crossJoin(broadcast(centroids)) + a per-id row_number window —
    * materializes corpus × nList wide rows and shuffles them for the
    * window: the 100× rehearsal measured a 200k-vector append at 400
    * lists spending ~85 s in that 80M-row shuffle; this pass is the
    * arithmetic only (corpus × nList × dim flops, no shuffle, no
    * blowup). Ties break to the lower cluster id, matching the old
    * window's (cdist, cluster) ordering bit-for-bit.
    */
  private[graft] def assignNearest(vecs: DataFrame, idCol: String,
      centroids: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents: Array[(Int, Array[Double])] = centroids
      .select(col("cluster").cast("int"), col("centroid"))
      .as[(Int, Seq[Double])].collect()
      .map { case (c, v) => (c, v.toArray) }
      .sortBy(_._1)
    assignNearestArr(vecs, idCol, "e", cents)
  }

  /** The exact-assignment kernel shared with the KMeans label pass
    * ([[graft.operators.clustering.GraphBuild.microCluster]] — r13,
    * VERDICT r12 #3: o51's labels graduate to oracle-checked the same
    * way the IVF lists did, by making the final assignment the
    * replayable rule). `cents` MUST be sorted by cluster id ascending
    * (strict `<` keeps the first on ties).
    */
  private[graft] def assignNearestArr(vecs: DataFrame, idCol: String,
      featCol: String, cents: Array[(Int, Array[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col(idCol).cast("long").as("_id"), col(featCol).as("e"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val ea = e.toArray
          var best = -1; var bestD = Double.MaxValue
          var ci = 0
          while (ci < cents.length) {
            val cv = cents(ci)._2
            var d = 0.0; var i = 0
            while (i < ea.length) { val t = ea(i) - cv(i); d += t * t; i += 1 }
            // strict < keeps the FIRST (lowest cluster id) on ties:
            // cents is sorted by cluster asc
            if (d < bestD) { bestD = d; best = cents(ci)._1 }
            ci += 1
          }
          AssignedRow(id, e, best)
        }
      }
      .toDF("_id", "e", "cluster")
      .select(col("_id").as(idCol), col("e"), col("cluster"))
  }

  // builds carry no generation column; appended rows are gen=1
  private def withGen(assigned: DataFrame): DataFrame =
    if (assigned.columns.contains("gen")) assigned
    else assigned.withColumn("gen", lit(0))

  /** Staleness metric: per-generation count + mean distance to the
    * owning centroid. When the appended generation's mean assign
    * distance drifts above the build generation's, the frozen coarse
    * quantizer no longer represents the corpus — the retrain trigger a
    * production deployment would alert on.
    */
  def assignDrift(index: IvfIndex): DataFrame =
    withGen(index.assigned).join(broadcast(index.centroids), Seq("cluster"))
      .groupBy(col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n"),
        avg(VectorOps.l2DistanceNative(col("e"), col("centroid"))).as("mean_dist"))

  /** Hash-checkable face of [[assignDrift]] (r17, q_ann_drift): each
    * row's distance to its owning centroid is quantized to integer
    * micro-units BEFORE aggregation — a sum of integers is
    * order-independent where the double mean is not — and the mean
    * published as an integer DIV. Same retrain signal, exact in both
    * engines (the per-row double is the bit-stable index-order fold +
    * IEEE sqrt, so round(d·1e6) lands on the same BIGINT).
    */
  def assignDriftExact(index: IvfIndex): DataFrame =
    withGen(index.assigned).join(broadcast(index.centroids), Seq("cluster"))
      .select(col("gen").cast("long").as("gen"),
        round(VectorOps.l2DistanceNative(col("e"), col("centroid")) * lit(1000000L))
          .cast("long").as("d_e6"))
      .groupBy("gen")
      .agg(count(lit(1)).as("n"), sum(col("d_e6")).as("sum_dist_e6"))
      .withColumn("mean_dist_e6", expr("sum_dist_e6 DIV n"))

  /** The IVF probe-routing rule, the one copy every list search uses:
    * each probe row (`probe_id`, `pv` and any carried columns) scores
    * the centroids (tiny, broadcast) by l2 distance and keeps its
    * `nProbe` nearest lists as `cluster`, ranked `crk` 1..nProbe with
    * ties going to the lower cluster id — the `(cdist, cluster)` order
    * every DuckDB twin replays.
    */
  def route(probes: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    probes.crossJoin(broadcast(centroids))
      .withColumn("cdist", VectorOps.l2DistanceNative(col("pv"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cdist"), col("cluster"))))
      .filter(col("crk") <= nProbe)
      .select((probes.columns.toSeq ++ Seq("cluster", "crk")).map(col): _*)

  /** The cosine top-k rule, the one copy every ranked read uses: the raw
    * cosine is rounded to 6 dp BEFORE ordering (`+ 0.0` folds DuckDB's
    * −0.0), rows rank per `keys` by `cos DESC, idCol` (an INT `rk`,
    * row_number's own type) and `rk <= k` survives. Returns `keys`,
    * `idCol`, `cos`, `rk`; a caller that publishes `rk` casts it.
    */
  def cosTopK(rows: DataFrame, keys: Seq[String], idCol: String, cos: Column,
      k: Int): DataFrame =
    rows.select((keys :+ idCol).map(col) :+ (round(cos, 6) + lit(0.0)).as("cos"): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("cos").desc, col(idCol))))
      .filter(col("rk") <= k)

  /** Cosine top-k per probe, scanning only the nProbe nearest lists. */
  def topK(index: IvfIndex, probes: DataFrame, probeId: String,
      probeVec: String, k: Int, nProbe: Int): DataFrame = {
    val p = probes.select(col(probeId).as("probe_id"),
      VectorOps.toDoubleArr(col(probeVec)).as("pv"))
    // equi-join on the list id — only the probed lists are scanned
    cosTopK(route(p, index.centroids, nProbe).join(index.assigned, Seq("cluster")),
        Seq("probe_id"), index.idCol,
        VectorOps.cosineSimilarityNative(col("e"), col("pv")), k)
      .withColumn("rk", col("rk").cast("long"))
  }
}
