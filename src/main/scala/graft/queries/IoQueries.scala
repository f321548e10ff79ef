package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.graphx.{Edge, Graph => XGraph}

import graft.Tables
import graft.operators.{Chunker, Inference}
import graft.sources.TextFiles
import graft.streaming.StreamingTwins

/** Sources, sinks, streaming twins, multimodal plumbing, inference, and
  * the GraphX north star — the remaining §2.1/§2.9 surface as declared
  * queries.
  */
object IoQueries {
  type Q = (SparkSession, String) => DataFrame

  /** O-1: the paged-ingest DataSourceV2 Batch source (one InputPartition
    * per page range, scraper.py:230-240 shape) — the fetch is the
    * deterministic synthetic pager, so the oracle regenerates the exact
    * rows with generate_series. Title/year recovered from the link text
    * with O-26's splitter, like the reference does while scraping
    * (scraper.py:85-88,124).
    */
  private val ingest: Q = (s, _) =>
    s.read.format("graft.sources.ingest.PagedIngestSource")
      .option("startPage", 1).option("endPage", 40)
      .option("perPage", 25).option("numPartitions", 8)
      .load()
      .select(col("page"), col("slot"), col("movie_id"),
        graft.functions.TextClean.titleOf(col("link_text")).as("title"),
        graft.functions.TextClean.yearOf(col("link_text")).as("year"),
        col("url"), length(col("body")).cast("long").as("body_len"))

  /** O-2 + O-5 + O-26⁻¹: text-sink documents to per-doc files, wholetext
    * them back, recover the key from the filename. Oracle checks the
    * round trip is lossless (doc_id, source, byte-exact text length).
    */
  private val wholefile: Q = (s, d) =>
    TextFiles.roundTrip(s, d)
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))

  /** O-3 + O-4: CSV sink (header) then schema'd CSV scan, aggregated so
    * the oracle proves values survived the text round trip.
    */
  private val csv: Q = (s, d) => {
    val out = Paths.get(sys.props("java.io.tmpdir"),
      "graft_csv_" + graft.Scratch.dirTag(d)).toString
    Tables.events(s, d).select("event_id", "event_type", "value")
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true")
      .schema("event_id LONG, event_type STRING, value DOUBLE")
      .csv(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
  }

  /** JSON-lines sink + schema'd scan round trip (the `other_data` JSONB
    * surface, db/models/movie.py:12, as a whole-row format): values must
    * survive text serialization.
    */
  private val jsonRt: Q = (s, d) => {
    val out = Paths.get(sys.props("java.io.tmpdir"),
      "graft_jsonl_" + graft.Scratch.dirTag(d)).toString
    Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").json(out)
    s.read.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("user_id")).as("sum_users"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
  }

  /** ORC sink + scan round trip — the other columnar format Spark ships;
    * the oracle runs on the parquet originals, so the check proves ORC
    * serialization is lossless for these types.
    */
  private val orcRt: Q = (s, d) => {
    val out = Paths.get(sys.props("java.io.tmpdir"),
      "graft_orc_" + graft.Scratch.dirTag(d)).toString
    Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
  }

  /** O-7 JDBC sink + scan round trip (graph_repo.py:53-89 persistence,
    * minus the serial-id dance o07 replaces): write nation through
    * `df.write.jdbc` into embedded Derby, read it back PARTITIONED on the
    * key — `(partitionColumn, lowerBound, upperBound, numPartitions)`
    * splits the table into 4 concurrent range queries, the scale shape
    * for bulk JDBC ingest (Derby is in-process here; against a real
    * server only the URL changes).
    */
  private val jdbc: Q = (s, d) => {
    val url = "jdbc:derby:" + Paths.get(sys.props("java.io.tmpdir"),
      "graft_derby_" + graft.Scratch.dirTag(d)) + ";create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").jdbc(url, "nation_t", props)
    s.read.jdbc(url, "nation_t",
        columnName = "n_nationkey", lowerBound = 0L, upperBound = 25L,
        numPartitions = 4, connectionProperties = props)
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"))
  }

  /** O-6 JSON tree sink: the nested region→nation tree serialized with
    * to_json — one JSON document per region, children collected in
    * nationkey order (the reference's unbalanced.json/balanced.json dump,
    * graph_creator.py:198-204).
    */
  private val jsonTree: Q = (s, d) =>
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_regionkey").cast("long").as("region_id"), col("r_name"))
      .agg(sort_array(collect_list(struct(
        col("n_nationkey").cast("long").as("id"),
        col("n_name").as("name")))).as("children"))
      .select(col("region_id"),
        to_json(struct(col("r_name").as("name"), col("children"))).as("tree_json"))

  /** Streaming twins — share the batch oracles (results must be equal). */
  private val streamHourly: Q = (s, d) => StreamingTwins.hourlyAgg(s, d)
  private val streamHourlyAppend: Q = (s, d) => StreamingTwins.hourlyAggAppend(s, d)
  private val streamDedup: Q = (s, d) => StreamingTwins.dedupUsers(s, d)
  private val streamDedupWm: Q = (s, d) => StreamingTwins.dedupUsersWatermarked(s, d)
  private val streamSess: Q = (s, d) => StreamingTwins.sessionize(s, d)
  private val streamHll: Q = (s, d) => StreamingTwins.hllRegisters(s, d)
  private val streamSessWm: Q = (s, d) => StreamingTwins.sessionizeBounded(s, d)
  private val streamJoin: Q = (s, d) => StreamingTwins.clickPurchaseJoin(s, d)

  /** O-55: windowed text → per-partition model handle → per-class logits
    * (model.py:108-141 shape). The DECLARED path runs the resource-loaded
    * [[Inference.LinearModel]] — real weights file, real matmul — and
    * emits EXACT ×1e6 integer logits, so the features + matmul replay in
    * DuckDB SQL and the rows hash-check (softmax is a stateless per-row
    * epilogue; the probability face + seam are pinned in
    * InferenceSeamSpec). Scale: per-partition handle, no shuffle.
    */
  private val infer: Q = (s, d) =>
    Inference.scoreWindowsLogits(
      Chunker.slidingTokenWindows(Tables.documents(s, d), "text", 48, 24, Seq("doc_id"))
        .select("doc_id", "window_id", "win"),
      "win").drop("win")

  /** O-55 through the REAL model-file seam (r14 — VERDICT r13 "missing"
    * #3): same windows, same integer-logit contract, but the
    * per-partition handle parses and evaluates an actual ONNX graph
    * ([[Inference.OnnxLogitModel]] over the quantized fixture, where
    * float32 Gemm arithmetic is exact-integer by construction — the
    * reference's operator shape, a loaded model graph behind
    * mapPartitions, model.py:108-141). The oracle replays the identical
    * features+matmul algebra, so a bug anywhere in the wire-format
    * parse, the graph evaluation, or the handle lifecycle flips the
    * hash.
    */
  private val inferOnnx: Q = (s, d) =>
    Inference.scoreWindowsLogits(
      Chunker.slidingTokenWindows(Tables.documents(s, d), "text", 48, 24, Seq("doc_id"))
        .select("doc_id", "window_id", "win"),
      "win", modelFactory = () => new Inference.OnnxLogitModel()).drop("win")

  /** Multimodal plumbing: opaque binary payload + typed metadata +
    * deterministic "decode" features (byte length, content hash, head
    * bytes) — the schema/partitioning/batch shape of an image/audio
    * pipeline with the codec swapped for a deterministic stand-in (the
    * real decode lives behind [[Inference.StubModel]]-style partition
    * handles; codec libs aren't in this container).
    */
  private val multimodal: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(col("lang"), col("source")).as("meta"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        hex(substring(col("payload"), 1, 8)).as("head_hex"),
        col("meta.lang").as("lang"))

  /** GraphX north star: the o07 tree as Graph[VD,ED], depth computed by
    * Pregel (min-over-parents wave from the root) and oracle-checked
    * against the materialized-path depth.
    */
  private val graphxDepth: Q = (s, d) => {
    import s.implicits._
    val g = GraphQueries.queries("o07_graph_ids")(s, d)
      .select(col("id"), col("path"), col("depth"))
    val edges = g.filter(col("id") =!= 1)
      .select(
        coalesce(
          when(size(split(col("path"), "\\.")) === 2, lit(1L)),
          expr("try_element_at(split(path, '\\\\.'), -2)").cast("long")).as("src"),
        col("id").as("dst"))
    // data-sized Pregel width (see SizedRdd) — the tree is thousands of
    // rows; inheriting the 32-way layout pays empty tasks per superstep.
    // Anchored on the nation SCAN (r19): the tree is |nations|+|regions|+1
    // rows by construction, and o07's join/aggregate estimate inflates.
    val p = graft.operators.SizedRdd.parts(Tables.nation(s, d))
    val vertexRDD = g.select("id").as[Long].rdd.coalesce(p)
      .map(id => (id, if (id == 1L) 0 else Int.MaxValue))
    val edgeRDD = edges.as[(Long, Long)].rdd.coalesce(p)
      .map { case (a, b) => Edge(a, b, 1) }
    val graph = XGraph(vertexRDD, edgeRDD, Int.MaxValue)
    val res = graph.pregel(Int.MaxValue, maxIterations = 10)(
      (_, attr, msg) => math.min(attr, msg),
      t => if (t.srcAttr != Int.MaxValue) Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      math.min)
    res.vertices.toDF("id", "depth_pregel")
      .select(col("id"), col("depth_pregel").cast("long").as("depth_pregel"))
  }

  // memoized like the other build artifacts (driver may re-run queries);
  // release unpersists the graph build's internal caches (GraphTables doc)
  private val e1Cache =
    graft.SessionCache.artifact[graft.operators.clustering.GraphBuild.GraphTables](
      "e1_pipeline")(_.persisted.foreach(_.unpersist()))

  // The scored-window frame is E1's scan-the-corpus stage
  // (clean→window→infer) and is consumed by BOTH the graph build and
  // the q_e1_features export — one persisted copy per data dir, the
  // same artifact q_e1_features materializes to parquet anyway.
  private val e1ScoredCache =
    graft.SessionCache.artifact[DataFrame]("e1_scored")(_.unpersist())
  private def e1Scored(s: SparkSession, d: String): DataFrame =
    e1ScoredCache.getOrElseUpdate(s, d)(graft.Pipeline.e1Scored(s, d).persist())

  /** Where E1's own pre-rebalance tree is exported for the
    * q_e1_pipeline oracle (r14, VERDICT r13 #2) — E1's graph build runs
    * the same rebalance+flatten as q_graph_build over its own Ward
    * tree, so the same replay graduates it; see
    * GraphQueries.rebalanceReplaySql. Distinct fixed path: the two
    * builds produce different trees.
    */
  private def e1PreTreePath: String = Paths
    .get(sys.props("java.io.tmpdir"), "graft_e1_pretree").toString

  /** E1 end-to-end — hash-checked since r14 via the pre-tree export +
    * rebalance replay (the whole composed DAG's D6 graph table,
    * deterministic names included; only centroid GEOMETRY stays fenced,
    * and that is covered by the o51/ward export replays upstream).
    * Structural invariants additionally tested in PipelineSpec.
    */
  private val e1: Q = (s, d) => {
    val gt = e1Cache.getOrElseUpdate(s, d) {
      val t = graft.Pipeline.e1FromScored(e1Scored(s, d))
      // export rides the memo: written once per (session, dir) with the
      // build, never on a warm serving rep (ADVICE r13 export pattern)
      GraphQueries.writePreTree(s, t.preRows, e1PreTreePath)
      t
    }
    gt.graph.select(col("id"), col("path"), col("name"), col("type"),
      col("children_count"), col("depth"), col("count"),
      (round(col("distance"), 6) + lit(0.0)).as("distance"))
  }

  /** Bench artifact hook (r11 — VERDICT r10 #4): the full E1 build as
    * an explicit `build_*` entry, run cold once per interleaved pass —
    * the pipeline tables PLUS the scored-frame export (one-time work
    * both serving queries read); q_e1_pipeline then measures the
    * serving read of the built tables and q_e1_features the export
    * read + integer algebra. Delegates to the query lambda itself, so
    * the bench entry can never measure a different pipeline than the
    * query serves.
    */
  private[graft] def rebuildE1: Q = (s, d) => {
    ensureScoredExport(s, d)
    e1(s, d)
  }

  /** Where q_e1_features exports E1's scored-window frame for its
    * oracle. Same fixed-tmpdir convention as GraphQueries'
    * graphExportPath: one Verify run covers one data dir, and lazy
    * evaluation lets Bench move tmpdir first.
    */
  private def e1ScoredExportPath: String = Paths
    .get(sys.props("java.io.tmpdir"), "graft_e1_scored_export").toString

  /** Per-dir twin of [[e1ScoredExportPath]] — the BM25 dual-write
    * pattern (r12): the ENGINE reads this one, so a multi-dir session
    * can never window against a stale fixed-path export; the static
    * oracle SQL replays the fixed path (last build wins, one dir per
    * Verify run — the standing export constraint).
    */
  private def e1ScoredDirPath(d: String): String = Paths
    .get(sys.props("java.io.tmpdir"),
      "graft_e1_scored_" + graft.Scratch.dirTag(d)).toString

  // The export write is ONE-TIME work that rides the memo (the
  // writePreTree / BM25-idf pattern, ADVICE r13): q_e1_features was
  // re-writing ~60k-row parquet on EVERY bench rep — pure artifact cost
  // billed to the query. Memoized per (session, dir); built with
  // build_e1_model so serving reps measure the read+window+agg only.
  // The memo also carries the max windows-per-doc count — the widening
  // gate statistic — so serving reps pay no extra gate job.
  private val e1ExportCache =
    graft.SessionCache.artifact[(String, Long)]("e1_scored_export")(_ => ())
  private def ensureScoredExport(s: SparkSession, d: String): (String, Long) =
    e1ExportCache.getOrElseUpdate(s, d) {
      val labels = Inference.EmotionLabels
      val quant = e1Scored(s, d)
        .select(col("doc_id") +: col("window_id") +: labels.map(m =>
          expr(s"CAST(round($m * 10000) AS BIGINT)").as(s"${m}_e4")): _*)
      quant.write.mode("overwrite").parquet(e1ScoredDirPath(d))
      quant.write.mode("overwrite").parquet(e1ScoredExportPath)
      val maxCnt = e1Scored(s, d).select(col("doc_id"))
        .groupBy("doc_id").count()
        .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
      (e1ScoredDirPath(d), maxCnt)
    }

  /** E1's deterministic prefix, graduated out of the §5.4 fence (r11 —
    * VERDICT r10 #5, the q_graph_children pattern): what is NOT
    * SQL-replayable in E1 is the KMeans suffix; the scan→clean→window→
    * score→act-features prefix is plain dataflow. The query exports the
    * scored-window frame with probabilities quantized to ×1e4 BIGINT
    * (the one rounding, done once, Spark-side — both engines then read
    * identical integers, so NO cross-engine rounding exists anywhere
    * downstream; a double face here diverges on the .00005
    * half-boundaries that act means of quantized values hit constantly,
    * e.g. any odd sum over a 2-row act). From the export the query
    * computes the pre-KMeans act-feature frame in exact integer units:
    * per-act means ×1e8 and per-doc sample VARIANCE ×1e8 (variance is
    * the exact-checkable rendering of the std feature — std itself is
    * an irrational sqrt). The oracle replays the ntile act split and
    * the same integer algebra over the same export, so a bug in window
    * structure, act assignment, or the aggregation flips the hash; only
    * centroid geometry and naming stay rows-only (q_e1_pipeline /
    * q_graph_build). Variance widens through DECIMAL/HUGEINT: n·Σx² and
    * (Σx)² pass 2⁶³ once a doc has ~9e10 windows' worth of e4 mass.
    */
  private val e1Features: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val labels = Inference.EmotionLabels
    val (exportPath, maxCnt) = ensureScoredExport(s, d)
    val byDoc = Window.partitionBy("doc_id")
    val withAct = s.read.parquet(exportPath)
      .withColumn("_cnt", count(lit(1)).over(byDoc))
      .filter(col("_cnt") >= 3)
      .withColumn("_act", ntile(3).over(byDoc.orderBy("window_id")))
    // Every sum and every multiply feeding a DIV is widened through
    // DECIMAL on the Spark side and HUGEINT on the DuckDB side (below)
    // once the gate statistic says LONG could wrap: n·Σx² and (Σx)²
    // reach n²·1e8, past 2⁶³ near n ≈ 3e5 windows/doc — the engines
    // must agree loudly, not diverge quietly, at the giant-document
    // extreme. BELOW the gate (every bench SF: maxCnt ≤ 1e5 keeps
    // n²·1e8 ≤ 1e18) the same integers aggregate in primitive LONG —
    // bit-identical outputs, codegen'd hash-agg instead of the DECIMAL
    // path's boxed Decimal sums (the adaptive-widening analog of
    // Ordinals.prefixSum's corpus-shape switch; gate rides the export
    // memo, so serving reps pay zero extra jobs).
    e1FeatureFrame(withAct, labels, wide = maxCnt > 100000L)
  }

  /** The act-feature aggregation over the quantized window frame, in
    * either integer face — extracted so the DECIMAL (wide) face stays
    * pinned bit-identical to the LONG face by test even though bench
    * SFs never cross the gate.
    */
  private[graft] def e1FeatureFrame(withAct: DataFrame, labels: Seq[String],
      wide: Boolean): DataFrame = {
    def widened(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (wide) c.cast("decimal(28,0)") else c
    val aggCols: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("_n") +:
        ((1 to 3).map(a => count(when(col("_act") === a, lit(1))).as(s"_c_$a")) ++
          labels.flatMap { m =>
            Seq(sum(widened(col(s"${m}_e4"))).as(s"_s_$m"),
              sum(widened(col(s"${m}_e4") * col(s"${m}_e4"))).as(s"_q_$m")) ++
              (1 to 3).map(a =>
                sum(widened(when(col("_act") === a, col(s"${m}_e4"))))
                  .as(s"_s_${m}_$a"))
          })
    // the DIV operands are all non-negative (counts, e4 sums, and the
    // Cauchy-Schwarz-nonnegative variance numerator), so LONG DIV ==
    // DECIMAL DIV == DuckDB HUGEINT // on the same integers
    val outCols: Seq[org.apache.spark.sql.Column] = col("doc_id") +:
      labels.flatMap { m =>
        val meanOf = (a: Int) =>
          if (wide)
            s"CAST((CAST(_s_${m}_$a AS DECIMAL(38,0)) * 10000) DIV _c_$a AS BIGINT)"
          else s"(_s_${m}_$a * 10000) DIV _c_$a"
        val varOf =
          if (wide)
            s"CAST((CAST(_n AS DECIMAL(38,0)) * _q_$m - " +
              s"CAST(_s_$m AS DECIMAL(38,0)) * _s_$m) " +
              s"DIV (CAST(_n AS DECIMAL(38,0)) * (_n - 1)) AS BIGINT)"
          else s"(_n * _q_$m - _s_$m * _s_$m) DIV (_n * (_n - 1))"
        (1 to 3).map(a => expr(meanOf(a)).as(s"${m}_act${a}_e8")) :+
          expr(varOf).as(s"${m}_var_e8")
      }
    withAct.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      .select(outCols: _*)
  }

  private def e1FeaturesSql: String = {
    // HUGEINT everywhere a sum feeds arithmetic (mirrors the Spark
    // side's DECIMAL widening): un-CAST sum(BIGINT) intermediates are
    // the DuckDB version-drift class the r10 dispute came from, and the
    // divisor products must not wrap where Spark's don't.
    val cols = Inference.EmotionLabels.flatMap { m =>
      (1 to 3).map(a =>
        s"CAST((CAST(sum(CASE WHEN _act = $a THEN ${m}_e4 END) AS HUGEINT) * 10000) " +
          s"// count(CASE WHEN _act = $a THEN 1 END) AS BIGINT) AS ${m}_act${a}_e8") :+
        (s"CAST((CAST(count(*) AS HUGEINT) * sum(CAST(${m}_e4 AS HUGEINT) * ${m}_e4) " +
          s"- CAST(sum(${m}_e4) AS HUGEINT) * sum(${m}_e4)) " +
          s"// (CAST(count(*) AS HUGEINT) * (count(*) - 1)) AS BIGINT) AS ${m}_var_e8")
    }.mkString(",\n       ")
    s"""WITH w AS (
       |  SELECT *, count(*) OVER (PARTITION BY doc_id) AS _cnt,
       |         ntile(3) OVER (PARTITION BY doc_id ORDER BY window_id) AS _act
       |  FROM '$e1ScoredExportPath/*.parquet')
       |SELECT doc_id, $cols
       |FROM w WHERE _cnt >= 3 GROUP BY doc_id""".stripMargin
  }

  /** Semantic chunking over the E1 scored windows — the RAG-era
    * segmentation verb: a chunk boundary falls wherever the cosine
    * between CONSECUTIVE window score-vectors drops below
    * [[ChunkCosMin]] (topic/affect shift), so chunks are maximal runs
    * of semantically-coherent windows. Rides the build_e1_model memo:
    * vectors are the exported ×1e4 BIGINT emotion scores, so dot and
    * norms are exact integers (≤ 6·10⁸, far inside BIGINT) and the ONE
    * IEEE expression is the AnnGraph cosine shape (dot / sqrt(na·nb),
    * round 6, +0.0); the boundary compare runs on the rounded value.
    * Norms are never zero (the scores are a probability row summing to
    * ~1e4). Per-doc result: window/chunk counts + the boundary-id
    * checksum + the doc's minimum cosine — bounded rows at any corpus
    * size. Scale: ONE per-doc window (lead), one groupBy(doc_id)
    * reusing its exchange; τ = 0.4 ≈ the corpus p25, measured.
    */
  private[graft] val ChunkCosMin = 0.4

  private val chunkSemantic: Q = (s, d) => {
    val (path, _) = ensureScoredExport(s, d)
    val labels = Inference.EmotionLabels
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("window_id")
    val w = s.read.parquet(path)
    val withNext = w.select(w.columns.map(col) ++
      labels.map(m => lead(col(s"${m}_e4"), 1).over(byDoc).as(s"_n_$m")): _*)
    val dot = labels.map(m => s"${m}_e4 * _n_$m").mkString(" + ")
    val na = labels.map(m => s"${m}_e4 * ${m}_e4").mkString(" + ")
    val nb = labels.map(m => s"_n_$m * _n_$m").mkString(" + ")
    val cos = expr(s"round(CAST($dot AS DOUBLE) / " +
      s"sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE)), 6) + 0.0")
    withNext
      .withColumn("cos", when(col(s"_n_${labels.head}").isNotNull, cos))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        (lit(1L) + sum(when(col("cos") < ChunkCosMin, 1L).otherwise(0L)))
          .as("n_chunks"),
        // 1-based ids in the checksum: window_id is 0-based, so a raw
        // sum could not distinguish "no boundary" from "boundary at 0"
        sum(when(col("cos") < ChunkCosMin, col("window_id") + lit(1L)).otherwise(0L))
          .as("boundary_sum"),
        coalesce(min(col("cos")), lit(2.0)).as("min_cos"))
  }

  private def chunkSemanticSql: String = {
    val labels = Inference.EmotionLabels
    val leads = labels.map(m =>
      s"lead(${m}_e4) OVER (PARTITION BY doc_id ORDER BY window_id) AS _n_$m").mkString(",\n       |         ")
    val dot = labels.map(m => s"${m}_e4 * _n_$m").mkString(" + ")
    val na = labels.map(m => s"${m}_e4 * ${m}_e4").mkString(" + ")
    val nb = labels.map(m => s"_n_$m * _n_$m").mkString(" + ")
    s"""WITH w AS (SELECT * FROM '$e1ScoredExportPath/*.parquet'),
       |p AS (SELECT doc_id, window_id, ${labels.map(m => s"${m}_e4").mkString(", ")},
       |         $leads
       |      FROM w),
       |c AS (SELECT doc_id, window_id,
       |         CASE WHEN _n_${labels.head} IS NOT NULL THEN
       |           round(CAST($dot AS DOUBLE) /
       |             sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE)), 6) + 0.0
       |         END AS cos
       |      FROM p)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |       CAST(1 + count(*) FILTER (WHERE cos < $ChunkCosMin) AS BIGINT) AS n_chunks,
       |       CAST(coalesce(sum(window_id + 1) FILTER (WHERE cos < $ChunkCosMin), 0) AS BIGINT) AS boundary_sum,
       |       coalesce(min(cos), 2.0) AS min_cos
       |FROM c GROUP BY doc_id""".stripMargin
  }

  /** Multimodal decode via the partition-handle codec — HASH-CHECKED
    * since r8 (VERDICT r7 #5): each document is rendered as a REAL
    * gzip'd binary PPM image, and the decode side genuinely inflates +
    * parses the container (magic, comments, geometry, pad stripping).
    * The twin recomputes geometry + digest from the source text, so the
    * whole encode→decode loop must round-trip bit-exactly to pass.
    */
  private val mmDecode: Q = (s, d) =>
    graft.operators.Multimodal.decodeFeatures(
      graft.operators.Multimodal.encodePayloads(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text"),
      "payload")
      .select(col("doc_id"), col("decoded.width").as("width"),
        col("decoded.height").as("height"), col("decoded.channels").as("channels"),
        col("decoded.n_frames").as("n_frames"),
        col("decoded.n_sampled").as("n_sampled"),
        col("decoded.n_bytes").as("n_bytes"),
        col("decoded.content_md5").as("content_md5"))

  /** The RESIZE verb of the multimodal brief (decode / feature-extract /
    * resize / frame-sample): nearest-neighbor stride-2 downsample of the
    * real decoded pixel plane inside the partition-handle codec. The
    * checksum sums the KEPT pixels' byte values — padding is zero, so
    * the twin replays it from the source text with pure integer
    * arithmetic (ASCII corpus ⇒ UTF-8 byte == code point), and any
    * resize indexing bug (wrong row stride, off-by-one in the kept
    * columns, pad mishandling) flips the hash.
    */
  private val mmResize: Q = (s, d) =>
    graft.operators.Multimodal.resizeFeatures(
      graft.operators.Multimodal.encodePayloads(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text"),
      "payload", stride = 2)
      .select(col("doc_id"), col("resized.out_width").as("out_width"),
        col("resized.out_height").as("out_height"),
        col("resized.out_bytes").as("out_bytes"),
        col("resized.checksum").as("checksum"))

  /** Perceptual image near-dup (r16 — VERDICT r15 "next" #1): dHash
    * over the REAL decoded PPM plane ([[graft.operators.Multimodal
    * .PpmGzCodec.dhash]]), Hamming-banded blocking, Hamming-≤6 verify.
    * Completes the multimodal pillar's content operator: decode / meta
    * / resize existed, but no image-content dedup. Planted near-dups:
    * every 5th document AT LEAST 8 PIXEL ROWS TALL (len ≥ 337 ⇒ h ≥ 8,
    * so each grid row samples a DISTINCT pixel row) is re-rendered
    * with ONE byte of its pixel plane perturbed (+1 on the code point
    * at position doc_id mod len, the dedup-pack mutation convention,
    * +600000 namespace) — on an h ≥ 8 image a one-byte perturbation
    * flips at most 2 adjacent hash bits, so at least 2 of the 4 14-bit
    * bands stay clean and banded blocking always retains the planted
    * pair (Hamming 0 when the byte misses the 8×8 sampled grid, ≤2
    * when it hits). Below h = 8 the flipped comparison would replicate
    * across every grid row that re-samples the same pixel row (up to 8
    * bits, all 4 bands dirty), so short docs are fingerprinted but not
    * planted — the r16 review caught the unqualified claim.
    *
    * Scale: the signature is constant-size per image; blocking is a
    * band-key equi-join over the 4-band table (the q_dedup_embed_mp
    * sign-LSH shape — at 100 TB the band table shuffles on (band, bv)
    * and hot buckets would take the BucketCap postings bound like the
    * jaccard index; at bench SFs the 14-bit bands keep buckets ≤ a few
    * rows). The heavy payload column never reaches the join — only
    * (doc_id, dhash) leaves the decode stage.
    */
  private val MmPhashBands = 4
  private val MmPhashBandBits = 14
  private val MmPhashMaxHamming = 6L

  private val mmPhash: Q = (s, d) => phashPairs(s, d)

  /** The (doc_a, doc_b, hamming) near-dup pair frame q_multimodal_phash
    * declares — also the edge list of [[phashGroups]].
    */
  private[graft] def phashPairs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val mut = base
      .filter(pmod(col("doc_id"), lit(5)) === 0 && length(col("text")) >= 337)
      .select((col("doc_id") + 600000L).as("doc_id"),
        expr("concat(substr(text, 1, CAST(doc_id % length(text) AS INT)), " +
          "chr(ascii(substr(text, CAST(doc_id % length(text) AS INT) + 1, 1)) + 1), " +
          "substr(text, CAST(doc_id % length(text) AS INT) + 2))").as("text"))
    val sig = graft.operators.Multimodal.dhashFeatures(
      graft.operators.Multimodal.encodePayloads(base.union(mut), "text"),
      "payload").select(col("doc_id"), col("dhash"))
    // persisted: the band table is both sides of the blocking self-join
    val bands = graft.Scratch.persist(sig.select(col("doc_id"), col("dhash"),
      posexplode(array((0 until MmPhashBands).map(b =>
        expr(s"shiftright(dhash, ${MmPhashBandBits * b}) & ${(1 << MmPhashBandBits) - 1}")): _*)))
      .toDF("doc_id", "dhash", "band", "bv"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.dhash").as("ha"), col("b.dhash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= MmPhashMaxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Image dup-GROUP resolution (r16): connected components over the
    * phash near-dup pairs, keeper = min image id per group — the
    * keep-one-per-group decision the multimodal pillar was missing
    * (q_dedup_minhash_groups is the text-side precedent, same GraphX
    * CC shape, same recursive-CTE closure oracle). Vertices = every
    * fingerprinted image (base corpus + planted mutants), so
    * singleton images appear as their own keeper.
    */
  private val phashGroups: Q = (s, d) => {
    val pairs = phashPairs(s, d).select(col("doc_a"), col("doc_b"))
    val ids = Tables.documents(s, d).select(col("doc_id"))
      .unionAll(Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(5)) === 0 && length(col("text")) >= 337)
        .select((col("doc_id") + 600000L).as("doc_id")))
    // sized from Catalyst's estimate of the VERTEX scan — NOT a count
    // (minhashGroups rule: a count would re-run the pair generation),
    // and NOT the pair join (its inflated estimate pinned the width at
    // the 32 cap — r19, SizedRdd doc); edge coalesce must SHUFFLE so
    // the band join stays at full width
    graft.operators.SizedRdd.connectedComponents(ids, pairs, shuffleEdges = true)
  }

  /** Parquet sink + small-file compaction round trip: the engine's own
    * storage format was the one sink without a declared write path. The
    * write coalesces to 2 files — the compaction shape for the
    * small-files problem (coalesce = no shuffle; at 100 TB you pick
    * target_file_count = bytes / 128 MB per partition range). The
    * read-back aggregate proves the compaction is content-lossless
    * against the ORIGINAL table's oracle.
    */
  private val parquetCompact: Q = (s, d) => {
    val out = Paths.get(sys.props("java.io.tmpdir"),
      "graft_pqc_" + graft.Scratch.dirTag(d)).toString
    Tables.documents(s, d).coalesce(2).write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text")).cast("long")).as("total_len"))
  }

  val queries: Map[String, Q] = Map(
    "q_parquet_compact" -> parquetCompact,
    "o01_ingest_scrape" -> ingest,
    "q_e1_pipeline" -> e1,
    "q_e1_features" -> e1Features,
    "q_chunk_semantic" -> chunkSemantic,
    "q_multimodal_decode" -> mmDecode,
    "q_multimodal_resize" -> mmResize,
    "q_multimodal_phash" -> mmPhash,
    "q_phash_groups" -> phashGroups,
    "o02_wholefile_roundtrip" -> wholefile,
    "o03_csv_roundtrip" -> csv,
    "q_json_roundtrip" -> jsonRt,
    "q_orc_roundtrip" -> orcRt,
    "o07_jdbc_roundtrip" -> jdbc,
    "o06_json_tree" -> jsonTree,
    "q_stream_hourly" -> streamHourly,
    "q_stream_hourly_append" -> streamHourlyAppend,
    "q_stream_dedup" -> streamDedup,
    "q_stream_hll" -> streamHll,
    "q_stream_cms" -> ((s, d) => graft.streaming.StreamingTwins.cmsRegisters(s, d)),
    "q_stream_merge_upsert" -> ((s, d) => graft.streaming.StreamingTwins.mergeUpsert(s, d)),
    "q_stream_ann_serve" -> ((s, d) => graft.streaming.StreamingTwins.annServe(s, d)),
    "q_stream_dedup_wm" -> streamDedupWm,
    "q_stream_sessionize" -> streamSess,
    "q_stream_sessionize_wm" -> streamSessWm,
    "q_stream_join" -> streamJoin,
    "o55_nn_inference" -> infer,
    "q_infer_onnx" -> inferOnnx,
    "q_multimodal_meta" -> multimodal,
    "q_graphx_depth" -> graphxDepth)

  /** The q_multimodal_phash twin body (dHash replay from text by
    * integer arithmetic — see the query's Scaladoc) — shared verbatim
    * with the q_phash_groups closure oracle.
    */
  private def phashPairsSql: String = {
      val mutPos = "CAST(doc_id % length(text) AS INT)"
      val mut = s"(substr(text, 1, $mutPos) || " +
        s"chr(ascii(substr(text, $mutPos + 1, 1)) + 1) || substr(text, $mutPos + 2))"
      def byteAt(i: String) =
        s"(CASE WHEN ($i) < len THEN unicode(substr(text, CAST(($i) + 1 AS INT), 1)) ELSE 0 END)"
      def graySql(cCol: String) =
        s"((${byteAt(s"r*48 + $cCol*3")} + ${byteAt(s"r*48 + $cCol*3 + 1")} + " +
          s"${byteAt(s"r*48 + $cCol*3 + 2")}) // 3)"
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  -- mutation computed in an inner subquery so no SELECT list
         |  -- both shadows and references doc_id/text (ADVICE r16 #1:
         |  -- correctness must not lean on DuckDB's alias-shadowing
         |  -- resolution order)
         |  SELECT base_id + 600000 AS doc_id, mut AS text FROM (
         |    SELECT doc_id AS base_id, $mut AS mut
         |    FROM documents WHERE doc_id % 5 = 0 AND length(text) >= 337)),
         |geom AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
         |                greatest(1, (octet_length(encode(text)) + 47) // 48) AS hh
         |         FROM base),
         |cells AS (SELECT doc_id, text, len, g, j,
         |                 (g * hh) // 8 AS r, 2*j AS c0, 2*(j+1) AS c1
         |          FROM geom
         |          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g)
         |          CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS j)),
         |bits AS (SELECT doc_id,
         |                CASE WHEN ${graySql("c0")} < ${graySql("c1")}
         |                     THEN (1::BIGINT << (g*7 + j)) ELSE 0::BIGINT END AS bit
         |         FROM cells),
         |hashes AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash FROM bits GROUP BY doc_id),
         |bands AS (SELECT doc_id, dhash, b, (dhash >> (14*b)) & 16383 AS bv
         |          FROM hashes CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.dhash AS ha, b.dhash AS hb
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 6""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_e1_features" -> e1FeaturesSql,
    "q_chunk_semantic" -> chunkSemanticSql,
    "q_e1_pipeline" -> GraphQueries.rebalanceReplaySql(e1PreTreePath),
    "q_parquet_compact" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(length(text)) AS BIGINT) AS total_len
        |FROM documents GROUP BY source""".stripMargin,
    "o01_ingest_scrape" ->
      """SELECT page, slot, (page-1)*25 + slot AS movie_id,
        |       'Movie ' || CAST((page-1)*25 + slot AS VARCHAR) AS title,
        |       CASE WHEN ((page-1)*25 + slot) % 7 = 0 THEN '1800'
        |            ELSE CAST(1900 + ((page-1)*25 + slot) % 100 AS VARCHAR) END AS year,
        |       'https://example.org/movies/' || CAST((page-1)*25 + slot AS VARCHAR) AS url,
        |       CAST(length('WEBVTT' || chr(10) || 'subtitle text for movie ' ||
        |            CAST((page-1)*25 + slot AS VARCHAR) || ' on page ' ||
        |            CAST(page AS VARCHAR)) AS BIGINT) AS body_len
        |FROM (SELECT unnest(generate_series(1, 40)) AS page) p
        |CROSS JOIN (SELECT unnest(generate_series(0, 24)) AS slot) sl""".stripMargin,
    "o02_wholefile_roundtrip" ->
      "SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents WHERE doc_id < 500",
    "q_json_roundtrip" ->
      """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "o07_jdbc_roundtrip" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"),
    "o03_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "o06_json_tree" ->
      """SELECT region_id, to_json({'name': r_name, 'children': children}) AS tree_json
        |FROM (
        |  SELECT CAST(r_regionkey AS BIGINT) AS region_id, r_name,
        |         list_sort(list({'id': CAST(n_nationkey AS BIGINT), 'name': n_name})) AS children
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_regionkey, r_name)""".stripMargin,
    "q_stream_hourly" -> RelationalQueries.oracle("q_hourly_agg"),
    // Closed windows only: window end ≤ final watermark = max event time
    // (ms precision, µs-truncated input — asof rule) minus the 1 h delay.
    "q_stream_hourly_append" ->
      s"""WITH h AS (${RelationalQueries.oracle("q_hourly_agg")}),
         |wm AS (SELECT ((max(epoch_us(ts)) // 1000) - 3600000) * 1000 AS wm_us FROM events)
         |SELECT hour_epoch, event_type, n, sum_value FROM h, wm
         |WHERE (hour_epoch + 3600) * 1000000 <= wm_us""".stripMargin,
    "q_stream_dedup" -> "SELECT DISTINCT user_id FROM events",
    "q_stream_dedup_wm" -> "SELECT DISTINCT user_id FROM events",
    // complete-mode register max is batching-independent, so the batch
    // derivation over the same ids IS the oracle
    "q_stream_hll" -> graft.queries.SketchQueries.registersSqlFrom(
      "SELECT CAST(user_id AS VARCHAR) AS sh FROM events"),
    // additive bucket counts are batching-independent, so the batch CMS
    // over the same ids IS the oracle (the q_stream_hll convention)
    "q_stream_cms" -> graft.queries.SketchQueries.cmsSketchSqlFrom(
      "SELECT CAST(user_id AS VARCHAR) AS sh FROM events"),
    // disjoint update/insert key spaces make the per-batch merge fold
    // commute, so the batch MERGE oracle checks the 3-batch stream
    "q_stream_merge_upsert" -> IncrementalQueries.oracle("q_merge_upsert"),
    // stateless per-probe search over disjoint probe ranges: the
    // drained serving log equals the one-shot batch search, so the
    // oracle is the q_ann_ivf centroid-export replay parameterized to
    // the 50-probe serve set
    "q_stream_ann_serve" -> VectorQueries.ivfTopkSqlFor("vec_id < 50"),
    "q_stream_sessionize" -> RelationalQueries.oracle("q_sessionize"),
    "q_stream_sessionize_wm" -> RelationalQueries.oracle("q_sessionize"),
    "q_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts_us > c.ts_us
        | AND p.ts_us <= c.ts_us + 3600000000""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5,
        |       hex(encode(substr(text, 1, 8))) AS head_hex, lang
        |FROM documents""".stripMargin,
    // q_multimodal_decode twin: geometry + digest recomputed from the
    // source text — 16 px × 3 ch rows (48 B each), zero-padded last row,
    // frames = pixel rows sampled every 24. DuckDB md5(text) digests the
    // UTF-8 bytes, exactly what the decoder recovers after pad-stripping.
    "q_multimodal_decode" ->
      """SELECT doc_id, CAST(16 AS BIGINT) AS width,
        |       CAST(greatest(1, (octet_length(encode(text)) + 47) // 48) AS BIGINT) AS height,
        |       CAST(3 AS BIGINT) AS channels,
        |       CAST(greatest(1, (octet_length(encode(text)) + 47) // 48) AS BIGINT) AS n_frames,
        |       CAST((greatest(1, (octet_length(encode(text)) + 47) // 48) + 23) // 24 AS BIGINT) AS n_sampled,
        |       CAST(48 * greatest(1, (octet_length(encode(text)) + 47) // 48) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin,
    // q_multimodal_resize twin: kept-pixel byte sum replayed from the
    // text — position i (0-based) of the padded plane is kept iff its
    // pixel row (i // 48) and pixel column ((i % 48) // 3) are both
    // even; padding bytes are zero so only i < len contribute. The
    // greatest(len, 1) keeps empty docs in the frame (checksum 0).
    "q_multimodal_resize" ->
      """SELECT doc_id, CAST(8 AS BIGINT) AS out_width,
        |       CAST((h + 1) // 2 AS BIGINT) AS out_height,
        |       CAST(((h + 1) // 2) * 24 AS BIGINT) AS out_bytes,
        |       CAST(coalesce(sum(CASE WHEN (i // 48) % 2 = 0 AND ((i % 48) // 3) % 2 = 0
        |              AND i < octet_length(encode(text))
        |            THEN unicode(substr(text, CAST(i + 1 AS INT), 1)) ELSE 0 END), 0) AS BIGINT) AS checksum
        |FROM (SELECT doc_id, text,
        |             greatest(1, (octet_length(encode(text)) + 47) // 48) AS h,
        |             unnest(generate_series(0, greatest(octet_length(encode(text)), 1) - 1)) AS i
        |      FROM documents)
        |GROUP BY doc_id, h""".stripMargin,
    // q_multimodal_phash twin: the dHash is replayed from the source
    // text by pure integer arithmetic (the resize-twin convention —
    // ASCII corpus ⇒ UTF-8 byte == code point; padding bytes are 0):
    // sampled rows g·h//8, even pixel columns, gray = 3-byte sum // 3,
    // 7 comparison bits per grid row at 1<<(g·7+j), then the same
    // 4×14-bit band blocking and Hamming-≤6 verification.
    "q_multimodal_phash" -> phashPairsSql,
    // q_phash_groups twin: the q_dedup_minhash_groups closure shape —
    // recursive reachability over the (materialized) phash pairs,
    // keeper = min reachable id; vertices = every fingerprinted image
    "q_phash_groups" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED ($phashPairsSql),
         |ids AS (SELECT doc_id FROM documents
         |        UNION ALL
         |        SELECT doc_id + 600000 AS doc_id FROM documents
         |        WHERE doc_id % 5 = 0 AND length(text) >= 337),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM ids
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS keeper
         |FROM reach GROUP BY a""".stripMargin,
    "q_graphx_depth" -> {
      val o07Sql = GraphQueries.oracle("o07_graph_ids")
      s"SELECT id, CAST(len(string_split(path, '.')) - 1 AS BIGINT) AS depth_pregel FROM ($o07Sql)"
    },
    // O-55 twin: replay the 48/24 token windows (o32 algebra), the ASCII
    // basis-point features, and the centi-weight matmul — all integer,
    // so the logits match the LinearModel bit-for-bit. The SAME replay
    // checks q_infer_onnx: the quantized ONNX graph computes the
    // identical integers (see Inference.OnnxLogitModel), so one
    // declarative spec covers both engine paths.
    "q_infer_onnx" -> o55Sql,
    "o55_nn_inference" -> o55Sql)

  private lazy val o55Sql: String = {
      val w = new Inference.LinearModel().centiWeights
      val logitCols = Inference.EmotionLabels.zipWithIndex.map { case (l, c) =>
        val terms = (0 until 5).map(i => s"${w(c)(i)}*f${i + 1}").mkString(" + ")
        s"CAST($terms + ${w(c)(5) * 10000L} AS BIGINT) AS ${l}_e6"
      }.mkString(",\n        |       ")
      s"""SELECT doc_id, window_id,
         |       $logitCols
         |FROM (
         |  SELECT doc_id, window_id,
         |         least(length(win)*100, 20000) AS f1,
         |         (CAST(len(regexp_extract_all(win, '[aeiouAEIOU]')) AS BIGINT)*10000)
         |           // greatest(length(win), 1) AS f2,
         |         (CAST(len(regexp_extract_all(win, '[0-9]')) AS BIGINT)*10000)
         |           // greatest(length(win), 1) AS f3,
         |         (CAST(length(win) - length(replace(win, ' ', '')) AS BIGINT)*10000)
         |           // greatest(length(win), 1) AS f4,
         |         (CAST(len(regexp_extract_all(win, '[^A-Za-z0-9 ]')) AS BIGINT)*10000)
         |           // greatest(length(win), 1) AS f5
         |  FROM (
         |    SELECT doc_id, window_id,
         |           array_to_string(toks[(window_id*24+1):(window_id*24+48)], ' ') AS win
         |    FROM (
         |      SELECT doc_id, string_split(text, ' ') AS toks,
         |             unnest(generate_series(0, CAST(greatest(ceil(len(string_split(text, ' '))/24.0), 1) AS BIGINT)-1)) AS window_id
         |      FROM documents)))""".stripMargin
    }
}
