package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators for the training-data pipeline (builder
  * brief, round 5): train/test decontamination, balanced per-group
  * sampling, distinctive-term extraction (integer TF-IDF), and int8
  * embedding quantization. All oracle-checked.
  *
  * Scale designs:
  *  - decontamination is the Jaccard inverted-index shape (shuffle on
  *    shingle, df-capped — never n², no hot keys), restricted to
  *    train×test pairs;
  *  - sampling and quantization are stateless per-row expressions (the
  *    sample rank is a per-group window, partitioned by the group key);
  *  - TF-IDF is two map-side-combined aggregations + an equi-join on
  *    term + a WindowGroupLimit top-k.
  */
object CorpusQueries {
  type Q = (SparkSession, String) => DataFrame

  // Knuth multiplicative key hash — the same deterministic assignment
  // q_data_split uses: stable under repartitioning/reordering, pure
  // integer arithmetic, identical in any engine.
  private def knuth(c: org.apache.spark.sql.Column) =
    pmod(c * lit(2654435761L), lit(4294967296L))

  // ---- train/test decontamination via rare-shingle overlap ----
  // The standard pre-training hygiene step: a training document that
  // shares rare n-grams with an eval/test document leaks the benchmark.
  // Corpus = documents ∪ deterministic mutated copies (the DedupQueries
  // convention — the word-soup corpus has no natural near-dups, so the
  // planted copies give the overlap join real cross-split pairs to
  // find). Split assignment is the q_data_split bucket; candidates come
  // from a df-capped shingle inverted index (df ≤ 10 drops the
  // non-discriminative hot keys that both blow up the join and carry no
  // contamination signal — same rationale as q_dedup_jaccard).
  private val decontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(Tables.documents(s, d).select(
      (col("doc_id") + 100000L).as("doc_id"),
      expr("substring(text, instr(text, ' ')+1)").as("text")))
    val bucket = pmod(knuth(col("doc_id")), lit(100))
    // scratch-persisted: the capped shingle table feeds df stats AND both
    // sides of the train×test join. Shingles come from the native
    // token_shingles kernel (ShingleExpressions.scala) — profiling showed
    // the interpreted HOF chain was ~85% of this query's time.
    val allSh = graft.Scratch.persist(corpus
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("split"),
        explode(call_function("token_shingles", col("text"), lit(3))).as("sh")))
    val rare = allSh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10).select("sh")
    val sh = graft.Scratch.persist(allSh.join(rare, Seq("sh")))
    // The r5 shape joined train×test postings row-per-pair and counted
    // two distinct keys in one aggregate — an Expand (×2 of the whole
    // join output) through the final exchange. Instead, collapse the
    // test side FIRST: one row per rare shingle carrying its ≤ df-cap
    // test docs as an array (the groupBy reuses the shingle partitioning
    // the df-cap join already established — no extra exchange). The
    // train join then emits one row per (train doc, shared shingle) —
    // never a pair expansion — and the final agg is a single exchange on
    // doc_id with NO distinct anywhere: (doc_id, sh) is unique by
    // construction (shingles are array_distinct per doc), so n_shared is
    // a plain count, and n_test_docs is the size of the union of the
    // bounded test-doc arrays.
    val testPerSh = sh.filter(col("split") === "test")
      .groupBy("sh").agg(collect_set(col("doc_id")).as("tdocs"))
    sh.filter(col("split") === "train")
      .join(testPerSh, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"),
        size(array_distinct(flatten(collect_list(col("tdocs")))))
          .cast("long").as("n_test_docs"))
  }

  // ---- balanced per-group sampling (cap each source at K docs) ----
  // Corpus balancing: over-represented sources are down-sampled to a
  // cap, deterministically — rank docs inside each source by the key
  // hash (not rand(), not arrival order) and keep the first K. The rank
  // is a PARTITIONED window (one shuffle on source), and membership is
  // reproducible under re-partitioning and incremental arrival.
  private val SampleCap = 20

  private val sampleBalanced: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        row_number().over(
          Window.partitionBy("source").orderBy(knuth(col("doc_id")), col("doc_id")))
          .cast("long").as("rk"))
      .filter(col("rk") <= SampleCap)

  // ---- mixture upsampling to a uniform language target ----
  // The training-mixture construction step: low-resource languages are
  // upsampled to the epoch weight that levels the mixture (the
  // multilingual-pretraining practice of running minority sources for
  // >1 epoch). Weights are integer basis points — epochs_bp(lang) =
  // (max_count·10⁴) DIV count(lang), capped at 4 epochs so a tiny
  // source can't explode the output — and the fractional epoch is
  // realized per-doc by the SAME Knuth key hash as q_data_split:
  // hash(doc_id) mod 10⁴ < frac ⇒ one extra copy. Fully deterministic,
  // reproducible under repartitioning, no rand(). Scale shape: one
  // count agg (map-side combined), a broadcast of the per-lang weight
  // table (|langs| rows), and a generator explode — output size is
  // Σ count·epochs, never more than cap× the input, and no shuffle
  // beyond the count.
  private val MixCapBp = 40000L

  // ---- temperature-scaled mixture weights (T = 0.5) ----
  // The multilingual sampling staple (mT5 / XLM-R): p_l ∝ n_l^T with
  // T < 1 flattens the language distribution so low-resource languages
  // are over-sampled relative to their share. T = 0.5 makes the
  // exponent an EXACT IEEE sqrt (correctly rounded in both engines) —
  // a fractional pow() is a libm last-ulp lottery, the engine-wide
  // transcendental rule. The normalizer W = Σ sqrt(n_l) is a LEFT FOLD
  // over the lang-ascending list (fold ≡ list_sum precedent — sum
  // aggregation order is never engine-stable for doubles); per-lang
  // share = ONE IEEE expression → floor → BIGINT (nonneg, trunc ==
  // floor). |langs| is bounded, so the fold array is a broadcast 1-row
  // frame; everything upstream is one map-side-combined count.
  private val mixTemperature: Q = (s, d) => {
    val cnt = graft.Scratch.persist(
      Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs")))
    val tot = cnt.agg(sum(col("n_docs")).as("total"),
      expr("""aggregate(
        transform(array_sort(collect_list(struct(lang, n_docs))),
          x -> sqrt(CAST(x.n_docs AS DOUBLE))),
        0D, (acc, v) -> acc + v)""").as("w"))
    cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("(n_docs * 10000) DIV total").as("raw_bp"),
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 10000.0 / w) AS BIGINT)")
          .as("temp_bp"))
  }

  private val mixTemperatureSql: String =
    """WITH cnt AS MATERIALIZED (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
      |               list_sum(list_transform(list(CAST(n_docs AS DOUBLE) ORDER BY lang),
      |                 x -> sqrt(x))) AS w
      |        FROM cnt)
      |SELECT lang, n_docs, (n_docs * 10000) // total AS raw_bp,
      |       CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 10000.0 / w) AS BIGINT) AS temp_bp
      |FROM cnt CROSS JOIN tot""".stripMargin

  private val mixUpsample: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    // persisted: cnt feeds BOTH the maxc aggregate and the weight-table
    // projection — without it the broadcast side embeds two full scans
    // + two aggregations of documents (|langs| rows, trivially cheap)
    val cnt = graft.Scratch.persist(
      docs.groupBy("lang").agg(count(lit(1)).as("cnt")))
    val maxc = cnt.agg(max(col("cnt")).as("maxc"))
    val eb = cnt.crossJoin(broadcast(maxc))
      .select(col("lang"),
        least(expr("(maxc * 10000) DIV cnt"), lit(MixCapBp)).as("epochs_bp"))
    docs.join(broadcast(eb), Seq("lang"))
      .withColumn("n_copies",
        expr("(epochs_bp DIV 10000) + (CASE WHEN (doc_id * 2654435761) % 4294967296 % 10000 < epochs_bp % 10000 THEN 1 ELSE 0 END)"))
      .select(col("doc_id"), col("lang"), col("epochs_bp"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  // ---- distinctive terms per source (integer TF-IDF top-10) ----
  // score = tf·1e4 DIV df (integer basis points — ln-based idf would be
  // a last-ulp libm lottery across engines; the integer surrogate ranks
  // identically for fixed corpus size). Two aggregations over one
  // persisted token table, equi-join on term, WindowGroupLimit top-k.
  private val tfidfTerms: Q = (s, d) => {
    // r16 (VERDICT r15 #3): single-consumption one-exchange shape. The
    // old form persisted the exploded tokens and scanned the cache twice
    // (tf agg + df agg) then joined — a persist wave, two aggregates and
    // a join. Instead: hash-partition the tokens on `tok` ONCE, collapse
    // to distinct (tok, doc_id, source) groups (a doc has one source, so
    // per-tok rows ARE the distinct docs), take df as a tok-partitioned
    // window count over those groups, and roll up tf per (source, tok) —
    // HashPartitioning on a subset of the group keys satisfies every
    // ClusteredDistribution in the chain, so ONE exchange carries the
    // per-doc aggregate, the df window and the tf aggregate; only the
    // small per-source top-k window shuffles again. No persist, no join,
    // the token stream is consumed exactly once.
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .repartition(col("tok"))
    toks.groupBy("tok", "doc_id", "source").agg(count(lit(1)).as("c"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")).cast("long"))
      .groupBy("source", "tok")
      .agg(sum(col("c")).as("tf"), max(col("df")).as("df"))
      .withColumn("score_bp", expr("(tf*10000) DIV df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("score_bp").desc, col("tok")))
        .cast("long"))
      .filter(col("rk") <= 10)
      .select("source", "tok", "tf", "df", "score_bp", "rk")
  }

  // ---- BM25 lexical top-k retrieval ----
  // The lexical complement to the ANN family: the engine can rank by
  // embedding cosine (o56/IVF/NSW) but had no term-based relevance
  // ranking, which retrieval eval and RAG-style curation need. Textbook
  // BM25 (k1=1.2, b=0.75), top-10 docs per probe query.
  //
  // Determinism: idf = ln(1 + (N−df+0.5)/(df+0.5)) is the ONE
  // transcendental — a cross-engine libm last-ulp lottery if both
  // engines computed it. So the term table (tok, df, idf_e6) is
  // computed once, Spark-side, quantized ×1e6 to BIGINT, and EXPORTED
  // (the q_e1_features pattern); both engines read identical integers
  // and everything downstream is exact integer arithmetic. The tf part
  //   tf·(k1+1) / (tf + k1·(1−b) + k1·b·len/avgdl)
  // is cleared of fractions by multiplying through by 1e6·T (avgdl =
  // T/N with T = corpus tokens, N = docs):
  //   tp_bp = tf·2_200_000·T·10⁴ DIV (tf·10⁶·T + 3·10⁵·T + 9·10⁵·len·N)
  // widened through DECIMAL/HUGEINT (tf·2.2e6·T·1e4 passes 2⁶³ already
  // at bench scale). score = Σ_t idf_e6·tp_bp, BIGINT.
  //
  // Scale: probes⋈postings is an equi-join on term — the inverted
  // index, shuffle-partitioned on the term key; per-probe work is
  // bounded by Σ df over its ≤5 terms; (N, T) is a broadcast 1-row
  // aggregate; top-k per probe is a WindowGroupLimit running top-k.
  // private[graft]: the invariant spec pins its checks to these, so a
  // knob change cannot silently desynchronize the test
  private[graft] val Bm25Probes = 10
  private[graft] val Bm25K = 10
  private[graft] val Bm25QTerms = 5

  private[graft] def bm25ExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_bm25_terms").toString

  /** Probe terms whose quantized idf falls below this floor are cut
    * BEFORE the postings join (r12 — VERDICT r11 #4, the WAND-style
    * upper-bound cut): idf_e6 < 100000 ⟺ the term appears in more than
    * ~90.5% of the corpus (ln(1+x) = 0.1 ⇒ df ≈ 0.905·N) — a stopword
    * whose postings list grows ∝ corpus while contributing < 0.1/ln-unit
    * of score per occurrence. Without the floor, one stopword probe term
    * joins an Θ(N) postings list and the (probe, doc) candidate
    * aggregation grows with it; with it, per-probe work is bounded by
    * Σ df over its non-stopword terms. The cut is hash-stable by
    * construction: both engines read idf_e6 from the SAME export and
    * apply the SAME integer comparison, so they drop identical terms.
    */
  private[graft] val Bm25IdfFloorE6 = 100000L

  /** Memoized per-(session, data dir) BM25 inverted index — built once,
    * queried many times, like the IVF/graph/E1 artifacts (r11 VERDICT
    * #3: the eager idf-export write used to run at query-CONSTRUCTION
    * time inside both q_bm25_topk and q_hybrid_retrieval, re-paying the
    * postings build + parquet write on every execution).
    *
    *  - `post`: (doc_id, tok, tf) postings — ONE corpus scan, persisted;
    *  - `lens`: (doc_id, len) with len = Σtf (identical to counting the
    *    split: even an empty text yields one "" token), persisted;
    *  - `g`: the 1-row (n, t) corpus totals — broadcast at use sites;
    *  - `termsPath`: the (tok, df, idf_e6) export. idf = ln(1 +
    *    (N−df+0.5)/(df+0.5)) is the ONE transcendental — computed once
    *    Spark-side, quantized ×1e6 to BIGINT, and EXPORTED so both
    *    engines score from identical integers (the q_e1_features
    *    pattern). The export write runs eagerly at build time, which
    *    also materializes both persisted tables.
    */
  private[graft] final case class Bm25Index(post: DataFrame, lens: DataFrame,
      g: DataFrame, termsPath: String)

  private val bm25Cache = graft.SessionCache.artifact[Bm25Index]("bm25_index") {
    ix => ix.post.unpersist(); ix.lens.unpersist()
  }

  /** Live memo entries for `s` (IndexStoreSpec's zero-rebuild proof). */
  private[graft] def bm25CacheCount(s: SparkSession): Int =
    bm25Cache.activeCount(s)

  private[graft] def bm25Index(s: SparkSession, d: String): Bm25Index =
    bm25Cache.getOrElseUpdate(s, d) {
      val docs = Tables.documents(s, d)
      val post = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .persist()
      val lens = post.groupBy("doc_id").agg(sum("tf").as("len")).persist()
      val g = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("t"))
      val terms = post.groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(g.select(col("n").as("_n"))))
        .select(col("tok"), col("df"),
          expr("CAST(round(ln(1.0 + (CAST(_n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1000000) AS BIGINT)")
            .as("idf_e6"))
      // Two views of the SAME term table (identical rows, so identical
      // joins): the Spark side reads a PER-DATA-DIR path — a session
      // that touches several dirs must never score one dir's corpus
      // against another dir's idf table via its warm memo — while the
      // FIXED path is what the static oracle SQL replays, carrying the
      // same last-build-wins / one-dir-per-Verify constraint as the
      // graph and E1 exports (ADVICE r11 #4; documented in CLAUDE.md).
      val dirPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_bm25_terms_" + graft.Scratch.dirTag(d)).toString
      terms.write.mode("overwrite").parquet(dirPath)
      // fixed path = a FILE COPY of the per-dir export (identical rows
      // by construction), not a second run of the terms aggregation —
      // this write sits inside the cold-timed build_bm25_index entry
      s.read.parquet(dirPath).write.mode("overwrite").parquet(bm25ExportPath)
      Bm25Index(post, lens, g, dirPath)
    }

  /** Bench artifact hook: force the memoized index cold (the export
    * write inside [[bm25Index]] materializes the persisted postings and
    * lengths; the returned frame drains the small lens cache).
    */
  private[graft] val rebuildBm25: Q = (s, d) => bm25Index(s, d).lens

  /** The (probe_id, doc_id, score) BM25 frame before the top-k —
    * shared by q_bm25_topk and the hybrid fusion query. Reads the
    * memoized index; per-execution work is the probe⋈postings join and
    * the (probe, doc) score aggregation only.
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val ix = bm25Index(s, d)
    bm25ScoreOver(s, ix.post, ix.lens, ix.g, ix.termsPath, standingProbes(s, d))
  }

  /** The standing (probe_id, tok) probe set — first [[Bm25Probes]]
    * docs' leading [[Bm25QTerms]] terms. ONE home for the
    * parity-critical probe definition (r17 review: it had drifted into
    * two verbatim copies), shared by the hybrid leg ([[bm25Scored]])
    * and the explicit-state serve ([[bm25TopkFrom]]).
    */
  private def standingProbes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < Bm25Probes)
      .select(col("doc_id").as("probe_id"),
        explode(slice(split(col("text"), " "), 1, Bm25QTerms)).as("tok"))
      .distinct()

  /** The probe⋈postings BM25 scoring chain over an explicit index state
    * (postings, lens, totals, terms export) — shared by the standing
    * index ([[bm25Scored]]) and the upserted state (q_bm25_upsert).
    */
  private def bm25ScoreOver(s: SparkSession, post: DataFrame,
      lens: DataFrame, g: DataFrame, termsPath: String,
      probes: DataFrame): DataFrame = {
    val terms = s.read.parquet(termsPath)
      .filter(col("idf_e6") >= Bm25IdfFloorE6)
      .select("tok", "idf_e6")
    // probe terms ⋈ floored term stats FIRST (both tiny, broadcast): a
    // sub-floor probe term never reaches the postings join at all
    bm25ScoreOverJoined(probes.join(broadcast(terms), Seq("tok")),
      post, lens, g)
  }

  /** The scoring chain downstream of the probes⋈floored-terms join —
    * split out (r18, VERDICT r17 #1) so q_bm25_upsert can compute that
    * join ONCE and serve both the scoring chain and the probe_df arm
    * from it instead of re-reading the terms parquet and re-deriving
    * the probe set (each derivation was a corpus-scan wave).
    */
  private def bm25ScoreOverJoined(probesJoined: DataFrame, post: DataFrame,
      lens: DataFrame, g: DataFrame): DataFrame = {
    broadcast(probesJoined.select("probe_id", "tok", "idf_e6"))
      .join(post, Seq("tok"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(g))
      .withColumn("tp_bp", expr(
        "CAST((CAST(tf AS DECIMAL(38,0)) * 2200000 * t * 10000) DIV " +
          "(CAST(tf AS DECIMAL(38,0)) * 1000000 * t + CAST(300000 AS DECIMAL(38,0)) * t " +
          "+ CAST(900000 AS DECIMAL(38,0)) * len * n) AS BIGINT)"))
      // ONE exchange for agg + downstream top-k: HashPartitioning on
      // probe_id alone satisfies BOTH the (probe_id, doc_id) group
      // clustering (subset rule) and the consumers' per-probe window,
      // where letting the aggregate pick (probe_id, doc_id) forces the
      // window to re-shuffle (r15: one serial stage wave saved)
      .repartition(col("probe_id"))
      .groupBy("probe_id", "doc_id")
      .agg(sum(expr("idf_e6 * tp_bp")).as("score"))
  }

  /** The full q_bm25_topk chain over an EXPLICIT index state — the
    * seam [[graft.operators.IndexStore]] serves through after loading a
    * persisted index (r17, VERDICT r16 #1): identical probes, scoring,
    * and top-k to the standing query, with the state injected instead
    * of read from the session memo.
    */
  private[graft] def bm25TopkFrom(s: SparkSession, d: String, post: DataFrame,
      lens: DataFrame, g: DataFrame, termsPath: String): DataFrame = {
    bm25ScoreOver(s, post, lens, g, termsPath, standingProbes(s, d))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= Bm25K)
      .select("probe_id", "rk", "doc_id", "score")
  }

  private val bm25: Q = (s, d) => {
    val ix = bm25Index(s, d)
    bm25TopkFrom(s, d, ix.post, ix.lens, ix.g, ix.termsPath)
  }

  // ---- RM3 pseudo-relevance-feedback query expansion (r17) ----
  // The canonical PRF baseline (Lavrenko & Croft relevance models, the
  // Anserini/Indri "RM3" default): retrieve once, mine expansion terms
  // from the top feedback documents, re-retrieve with the expanded
  // query. Round 1 IS the standing q_bm25_topk scoring; feedback-term
  // weight is the integer RM1 surrogate Σ_fb tf·idf_e6 (the published
  // model's P(t|R) up to the per-doc normalizer — kept integer so the
  // term ranking is exact cross-engine); top-[[Rm3FbTerms]] new terms
  // per probe (ties → lexicographic, ASCII corpus) join the original
  // terms for round 2 over the SAME memoized index.
  //
  // Scale: both rounds are the proven broadcast-probes⋈postings shape;
  // the feedback mine touches only the ≤probes·[[Rm3FbDocs]] feedback
  // docs' postings (broadcast semi-join on doc_id), so expansion adds
  // one bounded stage between two index lookups — no new corpus pass.
  private[graft] val Rm3FbDocs = 5
  private[graft] val Rm3FbTerms = 3

  /** The per-probe expansion terms — factored out so the invariant spec
    * can pin disjointness/arity against the declared query's output.
    */
  private[graft] def rm3Expansion(s: SparkSession, d: String): DataFrame = {
    val ix = bm25Index(s, d)
    val probes = standingProbes(s, d)
    val fb = bm25ScoreOver(s, ix.post, ix.lens, ix.g, ix.termsPath, probes)
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= Rm3FbDocs)
      .select("probe_id", "doc_id")
    val terms = s.read.parquet(ix.termsPath)
      .filter(col("idf_e6") >= Bm25IdfFloorE6).select("tok", "idf_e6")
    ix.post.join(broadcast(fb), Seq("doc_id"))
      .join(broadcast(terms), Seq("tok"))
      .groupBy("probe_id", "tok")
      .agg(sum(expr("tf * idf_e6")).as("w"))
      .join(probes, Seq("probe_id", "tok"), "left_anti")
      .withColumn("erk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("w").desc, col("tok"))))
      .filter(col("erk") <= Rm3FbTerms)
      .select("probe_id", "tok")
  }

  private val bm25Rm3: Q = (s, d) => {
    val ix = bm25Index(s, d)
    val expanded = standingProbes(s, d)
      .unionByName(rm3Expansion(s, d)).distinct()
    bm25ScoreOver(s, ix.post, ix.lens, ix.g, ix.termsPath, expanded)
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= Bm25K)
      .select("probe_id", "rk", "doc_id", "score")
  }

  private def rm3Sql: String =
    s"""WITH $bm25ScoredCtes,
       |r1 AS (SELECT probe_id, doc_id FROM (
       |  SELECT probe_id, doc_id,
       |         row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, doc_id) AS rk
       |  FROM scored) WHERE rk <= $Rm3FbDocs),
       |cand AS (
       |  SELECT r1.probe_id, post.tok, CAST(sum(post.tf * tm.idf_e6) AS BIGINT) AS w
       |  FROM r1 JOIN post ON post.doc_id = r1.doc_id
       |  JOIN terms tm ON tm.tok = post.tok AND tm.idf_e6 >= $Bm25IdfFloorE6
       |  GROUP BY r1.probe_id, post.tok),
       |exp AS (SELECT probe_id, tok FROM (
       |  SELECT c.probe_id, c.tok,
       |         row_number() OVER (PARTITION BY c.probe_id ORDER BY c.w DESC, c.tok) AS erk
       |  FROM cand c ANTI JOIN probes p ON p.probe_id = c.probe_id AND p.tok = c.tok)
       |  WHERE erk <= $Rm3FbTerms),
       |ep AS (SELECT DISTINCT probe_id, tok FROM
       |  (SELECT probe_id, tok FROM probes UNION ALL SELECT probe_id, tok FROM exp)),
       |${bm25ScoreCteOver("ep", "scored2")}
       |SELECT probe_id, rk, doc_id, score FROM (
       |  SELECT probe_id, doc_id, score,
       |         CAST(row_number() OVER (
       |           PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |  FROM scored2)
       |WHERE rk <= $Bm25K""".stripMargin

  // ---- retrieval eval: MRR of the planted relevant (r16) ----
  // The eval loop a retrieval stack actually runs: take documents whose
  // RELEVANT answer is known by construction (the probe text is the doc
  // itself with its first token dropped — the q_dedup_delta mutation),
  // retrieve over the STANDING BM25 index, and report where the
  // relevant doc landed. rr_e6 = 1e6 DIV rank when the relevant is
  // inside the top-[[Bm25K]], else 0 — integer reciprocal rank, exact
  // in both engines; mean-MRR is a trivial downstream aggregate, the
  // per-probe grain is what the hash check pins.
  private[graft] val MrrProbes = 50

  private val retrievalMrr: Q = (s, d) => {
    val ix = bm25Index(s, d)
    val probes = Tables.documents(s, d).filter(col("doc_id") < MrrProbes)
      .select(col("doc_id").as("probe_id"),
        expr("substring(text, instr(text, ' ')+1)").as("text"))
      .select(col("probe_id"),
        explode(slice(split(col("text"), " "), 1, Bm25QTerms)).as("tok"))
      .distinct()
    val ranked = bm25ScoreOver(s, ix.post, ix.lens, ix.g, ix.termsPath, probes)
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
    // the relevant doc shares all of the probe's non-stopword terms, so
    // it is always a candidate; rank 0 = fell below the inverted-index
    // candidates entirely (possible only if every probe term is floored)
    Tables.documents(s, d).filter(col("doc_id") < MrrProbes)
      .select(col("doc_id").as("probe_id"))
      .join(ranked.filter(col("rk") <= Bm25K &&
          col("doc_id") === col("probe_id")), Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("rk"), lit(0L)).as("rel_rank"),
        expr("CASE WHEN rk IS NULL THEN 0 ELSE 1000000 DIV rk END").as("rr_e6"))
  }

  // ---- incremental BM25 index maintenance (r16 — VERDICT r15 #7) ----
  // The ingestion-time shape the IVF index already had (appendToIndex +
  // q_ann_ivf_upsert) but the inverted index lacked: a delta corpus is
  // tokenized ONCE and appended — postings/lengths by union, corpus
  // totals by scalar addition, per-term df by a full-outer merge of the
  // standing export with the delta's df (every piece mergeable, so at
  // 100 TB a batch costs Θ(|delta|), never a corpus re-scan). idf is
  // the one non-mergeable value (a function of merged df and the new
  // n), recomputed over the |vocab|-row merged table and RE-EXPORTED to
  // its own fixed path for the twin.
  //
  // Verification is a FULL-REBUILD oracle: the twin re-derives
  // postings/lens/(n,t) — and the df underlying probe_df — from the
  // unioned corpus from scratch; only idf_e6 (the transcendental) comes
  // from the export, per the engine-wide export-replay convention. An
  // incremental drift in postings, lens, totals, or the df merge flips
  // the hash.
  private[graft] val Bm25UpsertMod = 7L

  private[graft] def bm25UpsertExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_bm25_upsert_terms").toString

  /** The merged (standing ∪ delta) index state — memoized per
    * (session, dir) and registered as the `build_bm25_upsert` bench
    * artifact (VERDICT r16 #2: the dual parquet export used to run
    * inside the timed query body on every rep, so q_bm25_upsert graded
    * the output committer, not the retrieval). The merge + export is
    * the one-time ingestion cost; the query times scoring against the
    * upserted state.
    */
  private[graft] final case class Bm25UpsertState(delta: DataFrame,
      dPost: DataFrame, dLens: DataFrame, post2: DataFrame,
      lens2: DataFrame, g2: DataFrame, termsPath: String)

  private val bm25UpsertCache =
    graft.SessionCache.artifact[Bm25UpsertState]("bm25_upsert")(_.dPost.unpersist())

  private[graft] def bm25UpsertState(s: SparkSession, d: String): Bm25UpsertState =
    bm25UpsertCache.getOrElseUpdate(s, d) {
      val ix = bm25Index(s, d)
      // delta shard: every 7th doc, first token dropped (the
      // q_dedup_delta mutation family), +700000 namespace
      // `orig` (the unshifted id) rides the delta so downstream bounds
      // like the probe window filter on a SCAN column and reach the
      // parquet min/max stats — a predicate on the shifted alias
      // ((doc_id+700000) < k) is not rewritten for pushdown by Catalyst
      // and would full-scan documents per probe derivation (r18 opt,
      // guide §6 "filters applied to derived columns do not push down")
      val delta = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(Bm25UpsertMod)) === 0)
        .select(col("doc_id").as("orig"),
          (col("doc_id") + 700000L).as("doc_id"),
          expr("substring(text, instr(text, ' ')+1)").as("text"))
      // persisted: the delta postings feed the union, the delta
      // lengths, and the df merge
      val dPost = delta
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .persist()
      val dLens = dPost.groupBy("doc_id").agg(sum("tf").as("len"))
      val post2 = ix.post.unionAll(dPost)
      val lens2 = ix.lens.unionAll(dLens)
      val g2 = ix.g.crossJoin(broadcast(
          dLens.agg(count(lit(1)).as("dn"), sum(col("len")).as("dt"))))
        .select((col("n") + col("dn")).as("n"),
          (col("t") + coalesce(col("dt"), lit(0L))).as("t"))
      val dDf = dPost.groupBy("tok").agg(count(lit(1)).as("ddf"))
      val terms2 = s.read.parquet(ix.termsPath).select(col("tok"), col("df"))
        .join(dDf, Seq("tok"), "full_outer")
        .select(col("tok"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L))).as("df"))
        .crossJoin(broadcast(g2.select(col("n").as("_n"))))
        .select(col("tok"), col("df"),
          expr("CAST(round(ln(1.0 + (CAST(_n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1000000) AS BIGINT)")
            .as("idf_e6"))
      // dual-path export (the bm25Index convention): per-dir for the
      // engine, fixed for the static oracle SQL
      val dirPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_bm25_upsert_terms_" + graft.Scratch.dirTag(d)).toString
      // written at the merge's parallelism (r18, VERDICT r17 #4 — the
      // old repartition(1) funneled the vocabulary-sized frame through
      // one task; vocab grows with the corpus under Heap's law, so at
      // 100 TB that single task is a real bottleneck). Every reader —
      // engine and oracle glob alike — handles the multi-file dir.
      terms2.write.mode("overwrite").parquet(dirPath)
      s.read.parquet(dirPath).write.mode("overwrite")
        .parquet(bm25UpsertExportPath)
      // dLens rides the state (r18 review): IndexStore.append writes it
      // to the durable store, and a second derivation there could drift
      // from the lens2 the in-memory serve uses — one home only
      Bm25UpsertState(delta, dPost, dLens, post2, lens2, g2, dirPath)
    }

  /** Bench artifact hook: the export write inside [[bm25UpsertState]]
    * materializes the merge; the returned frame drains the small delta
    * postings.
    */
  private[graft] val rebuildBm25Upsert: Q = (s, d) => bm25UpsertState(s, d).dPost

  private val bm25Upsert: Q = (s, d) => {
    val st = bm25UpsertState(s, d)
    val dirPath = st.termsPath
    // probes: the first delta docs' leading terms — every probe must
    // retrieve against the UPSERTED state (itself at rank 1 unless its
    // mutated text became a duplicate of a standing doc)
    val probes = st.delta.filter(col("orig") < Bm25Probes * Bm25UpsertMod)
      .select(col("doc_id").as("probe_id"),
        explode(slice(split(col("text"), " "), 1, Bm25QTerms)).as("tok"))
      .distinct()
    // ONE probes⋈floored-terms join (bounded by probes·terms) feeds
    // BOTH the scoring chain and probe_df (r18, VERDICT r17 #1 — the
    // old shape derived the probe set twice and read the terms parquet
    // twice). NOT persisted (r18 opt): the two consumers recompute it —
    // the probe scan is min/max-pruned via the `orig` bound below, so
    // the recompute beats the cache-population barrier.
    val pj = probes.join(
      broadcast(s.read.parquet(dirPath).filter(col("idf_e6") >= Bm25IdfFloorE6)
        .select("tok", "idf_e6", "df")), Seq("tok"))
    val scored = bm25ScoreOverJoined(pj, st.post2, st.lens2, st.g2)
    // probe_df: Σ merged df over the probe's floored terms — the twin
    // RECOUNTS df from the unioned corpus, so a df-merge drift flips
    // the hash even where the idf export would mask it
    val pdf = pj.groupBy("probe_id").agg(sum(col("df")).as("probe_df"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= Bm25K)
      .join(broadcast(pdf), Seq("probe_id"))
      .select("probe_id", "rk", "doc_id", "score", "probe_df")
  }

  // ---- retrieval eval: NDCG@k with graded relevance (r17, VERDICT
  // r16 #7) ----
  // The graded companion of q_retrieval_mrr: probes are base docs that
  // HAVE an upserted mutant (doc_id % 7 == 0, bounded), queried by
  // their own leading terms against the UPSERTED index, where relevance
  // is known by construction at TWO grades — the doc itself (grade 3)
  // and its first-token-dropped +700000 mutant (grade 2). The log2
  // discounts are the one transcendental: tabulated ONCE in Scala as
  // e6-scaled integers ([[NdcgW]]) and interpolated into BOTH engines'
  // expressions, so DCG/IDCG are exact integer sums and ndcg_bp is an
  // integer basis-point DIV — no FP anywhere past the table.
  //
  // Absolute values are corpus-bounded BY THE DATA, not the operator:
  // the synthetic vocabulary is small and near-uniform (the rarest
  // term of any doc appears in ~38% of docs at sf0.1), so no 5-term
  // lexical query can single out its source doc — the same honest
  // floor q_retrieval_mrr reports. The metric still varies (17/50
  // probes nonzero at sf0.001) and the hash pins every rank.
  private[graft] val NdcgProbes = 50

  /** w(i) = round(1e6 / log2(i+1)) for ranks 1..Bm25K. */
  private[graft] val NdcgW: Seq[Long] = (1 to Bm25K).map(i =>
    math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** Ideal DCG: both planted relevants exist for every probe by
    * construction — grade 3 at rank 1, grade 2 at rank 2.
    */
  private[graft] val NdcgIdealE6: Long = 3 * NdcgW(0) + 2 * NdcgW(1)

  private val ndcgGradeSql =
    "CASE WHEN doc_id = probe_id THEN 3 WHEN doc_id = probe_id + 700000 THEN 2 ELSE 0 END"

  private val retrievalNdcg: Q = (s, d) => {
    val st = bm25UpsertState(s, d)
    val base = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(Bm25UpsertMod)) === 0 &&
        col("doc_id") < lit(NdcgProbes * Bm25UpsertMod))
    val probes = base
      .select(col("doc_id").as("probe_id"),
        explode(slice(split(col("text"), " "), 1, Bm25QTerms)).as("tok"))
      .distinct()
    val dcg = bm25ScoreOver(s, st.post2, st.lens2, st.g2, st.termsPath, probes)
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= Bm25K)
      .select(col("probe_id"),
        (expr(ndcgGradeSql) *
          expr(s"element_at(array(${NdcgW.mkString(", ")}), CAST(rk AS INT))"))
          .as("gw"))
      .groupBy("probe_id").agg(sum(col("gw")).as("dcg_e6"))
    base.select(col("doc_id").as("probe_id"))
      .join(dcg, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("dcg_e6"), lit(0L)).as("dcg_e6"))
      .withColumn("ndcg_bp", expr(s"(dcg_e6 * 10000) DIV $NdcgIdealE6"))
  }

  private def ndcgSql: String = {
    val probesSql =
      s"""SELECT DISTINCT probe_id, tok FROM (
         |    SELECT doc_id AS probe_id,
         |           unnest(string_split(text, ' ')[1:$Bm25QTerms]) AS tok
         |    FROM documents
         |    WHERE doc_id % $Bm25UpsertMod = 0 AND doc_id < ${NdcgProbes * Bm25UpsertMod})""".stripMargin
    s"""WITH ${bm25UpsertScoredCtesWith(probesSql)},
       |ranked AS (
       |  SELECT probe_id, doc_id,
       |         CAST(row_number() OVER (
       |           PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |  FROM scored),
       |dcg AS (
       |  SELECT probe_id,
       |         CAST(sum(($ndcgGradeSql) *
       |           ([${NdcgW.mkString(", ")}][CAST(rk AS INT)])) AS BIGINT) AS dcg_e6
       |  FROM ranked WHERE rk <= $Bm25K GROUP BY probe_id)
       |SELECT b.probe_id,
       |       coalesce(dcg.dcg_e6, 0) AS dcg_e6,
       |       (coalesce(dcg.dcg_e6, 0) * 10000) // $NdcgIdealE6 AS ndcg_bp
       |FROM (SELECT doc_id AS probe_id FROM documents
       |      WHERE doc_id % $Bm25UpsertMod = 0
       |        AND doc_id < ${NdcgProbes * Bm25UpsertMod}) b
       |LEFT JOIN dcg USING (probe_id)""".stripMargin
  }

  /** The full-rebuild WITH-body over the UNIONED (standing ∪ delta)
    * corpus producing `scored(probe_id, doc_id, score)` with the probe
    * CTE swapped in — the upserted-state analog of
    * [[bm25ScoredCtesWith]], shared by the q_bm25_upsert and
    * q_retrieval_ndcg twins (r17: parameterized so the two can't
    * drift).
    */
  /** The delta + unioned-corpus CTE pair — ONE home (r18) shared by
    * the upsert scoring block and the q_index_persist_upsert terms
    * recount arm, so the mutation rule can't drift between them.
    */
  private[graft] def bm25UpsertUnionCtes: String =
    s"""delta AS (
       |  -- mutation computed in an inner subquery so no SELECT list
       |  -- both shadows and references doc_id/text (ADVICE r16 #1)
       |  SELECT base_id + 700000 AS doc_id, mut AS text FROM (
       |    SELECT doc_id AS base_id, substr(text, instr(text, ' ') + 1) AS mut
       |    FROM documents WHERE doc_id % $Bm25UpsertMod = 0)),
       |udocs AS (SELECT doc_id, text FROM documents
       |          UNION ALL SELECT doc_id, text FROM delta)""".stripMargin

  private[graft] def bm25UpsertScoredCtesWith(probesSql: String): String =
    s"""$bm25UpsertUnionCtes,
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM udocs),
       |post AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks GROUP BY doc_id, tok),
       |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
       |         FROM post GROUP BY doc_id),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS t FROM lens),
       |terms AS (SELECT tok, idf_e6 FROM '$bm25UpsertExportPath/*.parquet'
       |          WHERE idf_e6 >= $Bm25IdfFloorE6),
       |probes AS (
       |  $probesSql),
       |${bm25ScoreCteOver("probes", "scored")}""".stripMargin

  /** The standing probe set as SQL — the twin of [[standingProbes]],
    * shared (r18) with the q_index_persist_upsert serve arm so the
    * parity-critical probe definition keeps ONE home on the SQL side
    * too (the r17 review lesson).
    */
  private[graft] def standingProbesSql: String =
    s"""SELECT DISTINCT probe_id, tok FROM (
       |    SELECT doc_id AS probe_id, unnest(string_split(text, ' ')[1:$Bm25QTerms]) AS tok
       |    FROM documents WHERE doc_id < $Bm25Probes)""".stripMargin

  /** The shared WITH-body producing `scored(probe_id, doc_id, score)` —
    * the twin of [[bm25Scored]], reused by both oracle queries.
    */
  private def bm25ScoredCtes: String = bm25ScoredCtesWith(standingProbesSql)

  /** ONE home for the BM25 scoring CTE over any (probe_id, tok)
    * relation already in scope, with post/lens/g/terms CTEs expected
    * under those names — composed by the standing/MRR twins (via
    * [[bm25ScoredCtesWith]]), by the UPSERT twins' state block
    * ([[bm25UpsertScoredCtesWith]] — its terms CTE pre-applies the idf
    * floor, so the join's floor predicate is redundant-but-identical
    * there), and by BOTH rounds of the RM3 twin (r17), so the scoring
    * formula cannot drift between any of them.
    */
  private def bm25ScoreCteOver(probesRel: String, scoredName: String): String =
    s"""$scoredName AS (
       |  SELECT p.probe_id, post.doc_id,
       |         CAST(sum(tm.idf_e6 * CAST(
       |           (CAST(post.tf AS HUGEINT) * 2200000 * g.t * 10000)
       |           // (CAST(post.tf AS HUGEINT) * 1000000 * g.t
       |               + CAST(300000 AS HUGEINT) * g.t
       |               + CAST(900000 AS HUGEINT) * l.len * g.n) AS BIGINT)) AS BIGINT) AS score
       |  FROM $probesRel p
       |  JOIN post ON post.tok = p.tok
       |  -- idf floor mirrors Bm25IdfFloorE6: both engines drop the same
       |  -- probe terms because both compare the SAME exported integers
       |  JOIN terms tm ON tm.tok = p.tok AND tm.idf_e6 >= $Bm25IdfFloorE6
       |  JOIN lens l ON l.doc_id = post.doc_id
       |  CROSS JOIN g
       |  GROUP BY p.probe_id, post.doc_id)""".stripMargin

  /** [[bm25ScoredCtes]] with the probe CTE body swapped in — the MRR
    * eval scores MUTATED probe texts over the same standing index.
    */
  private def bm25ScoredCtesWith(probesSql: String): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |post AS MATERIALIZED (
       |  -- MATERIALIZED since r17: the RM3 twin consumes post three
       |  -- times (round-1 scoring, feedback-term mining, round-2
       |  -- scoring) and DuckDB re-derives inlined CTEs per consumer
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY doc_id, tok),
       |lens AS MATERIALIZED (
       |  -- derived from post (not documents) exactly as the Spark side
       |  -- is: a NULL-text doc drops out of the postings in BOTH
       |  -- engines, so the corpus totals (n, t) agree on ANY input.
       |  -- lens/terms/probes MATERIALIZED with post (r17 review): the
       |  -- RM3 twin reads each 2-3 times and DuckDB re-derives inlined
       |  -- CTEs per consumer
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
       |  FROM post GROUP BY doc_id),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS t FROM lens),
       |terms AS MATERIALIZED (SELECT tok, idf_e6 FROM '$bm25ExportPath/*.parquet'),
       |probes AS MATERIALIZED (
       |  $probesSql),
       |${bm25ScoreCteOver("probes", "scored")}""".stripMargin

  private[graft] def bm25Sql: String =
    s"""WITH $bm25ScoredCtes
       |SELECT probe_id, rk, doc_id, score FROM (
       |  SELECT probe_id, doc_id, score,
       |         CAST(row_number() OVER (
       |           PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |  FROM scored)
       |WHERE rk <= $Bm25K""".stripMargin

  // ---- hybrid retrieval: reciprocal-rank fusion of BM25 + cosine ----
  // The composition a RAG/curation pipeline actually serves: fuse the
  // lexical (BM25) and vector (embedding cosine) rankings per probe
  // with RRF — rrf(doc) = Σ_rankers 1e6 DIV (60 + rank) — and keep the
  // fused top-10. RRF is rank-only, so the fusion layer is exact
  // integer arithmetic by construction (the standard k=60 constant);
  // the cosine leg follows the o56 conventions (double cosine rounded
  // to 6 dp + 0.0, unique (cos desc, id) tie-break) and the lexical
  // leg is [[bm25Scored]]. The candidate universe of the vector leg is
  // embeddings restricted to ids that ARE documents, so both rankers
  // rank the same corpus.
  // Scale: each leg is its already-scale-shaped ranking (inverted index
  // / brute-force-or-ANN cosine) truncated to a constant fusion depth;
  // the fusion itself joins two ≤FusionDepth·probes row lists — tiny at
  // any corpus size. At 100 TB the cosine leg would swap in the IVF/NSW
  // path; the fusion layer is unchanged, which is the point of RRF.
  private[graft] val FusionDepth = 20
  private val RrfK = 60L

  /** The lexical leg both hybrid variants share: BM25 top-FusionDepth
    * per probe as (probe_id, doc_id, rkb).
    */
  private def lexLeg(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .withColumn("rkb", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rkb") <= FusionDepth)
      .select("probe_id", "doc_id", "rkb")

  /** RRF fusion of a lexical (probe_id, doc_id, rkb) and a vector
    * (probe_id, doc_id, rkv) ranking — rank-only, exact integers.
    */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("probe_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        expr(s"coalesce(1000000 DIV ($RrfK + rkb), 0) + coalesce(1000000 DIV ($RrfK + rkv), 0)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= Bm25K)
      .select(col("probe_id"), col("rk"), col("doc_id"), col("rrf"),
        coalesce(col("rkb"), lit(0L)).as("rkb"),
        coalesce(col("rkv"), lit(0L)).as("rkv"))

  private val hybrid: Q = (s, d) => {
    import graft.functions.VectorOps._
    val emb = Tables.embeddings(s, d)
      .join(Tables.documents(s, d).select(col("doc_id")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
    val pv = emb.filter(col("vec_id") < Bm25Probes)
      .select(col("vec_id").as("probe_id"), col("e").as("pv"))
    val vec = graft.operators.AnnIvf.cosTopK(emb.crossJoin(broadcast(pv)),
        Seq("probe_id"), "vec_id", cosineSimilarityNative(col("e"), col("pv")), FusionDepth)
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rk").cast("long").as("rkv"))
    rrfFuse(lexLeg(s, d), vec)
  }

  /** The 100 TB composition, declared (r13 — VERDICT r12 #5: the
    * brute-force-to-IVF swap used to exist only as prose): identical
    * RRF fusion, but the vector leg goes through the IVF inverted
    * lists — probe a quarter of the auto-sized lists, scan only those
    * (corpus touched ≈ nProbe/nList) — instead of the full broadcast
    * cosine scan. Oracle-checked end to end: the vector leg replays
    * from the exported quantizer centroids exactly like q_ann_ivf, and
    * the fusion SQL is unchanged except the leg CTE, which is the
    * point of RRF. The candidate universe is the embedding corpus (the
    * index indexes embeddings); at the testdata SFs vec_id ≡ doc_id.
    */
  private val hybridIvf: Q = (s, d) => {
    val index = graft.queries.VectorQueries.ivfIndex(s, d)
    val probes = Tables.embeddings(s, d).filter(col("vec_id") < Bm25Probes)
      .select(col("vec_id").as("pid"), col("embedding"))
    val nL = index.centroids.count().toInt
    val vec = graft.operators.AnnIvf
      .topK(index, probes, "pid", "embedding", FusionDepth, math.max(1, nL / 4))
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rk").as("rkv"))
    rrfFuse(lexLeg(s, d), vec)
  }

  private def hybridSql: String = {
    import graft.functions.VectorOps.cosineSimilaritySql
    s"""WITH $bm25ScoredCtes,
       |lex AS (
       |  SELECT probe_id, doc_id, rkb FROM (
       |    SELECT probe_id, doc_id,
       |           CAST(row_number() OVER (
       |             PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rkb
       |    FROM scored)
       |  WHERE rkb <= $FusionDepth),
       |emb AS (
       |  SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |pv AS (SELECT vec_id AS probe_id, e AS pv FROM emb WHERE vec_id < $Bm25Probes),
       |vec AS (
       |  SELECT probe_id, doc_id, rkv FROM (
       |    SELECT p.probe_id, a.vec_id AS doc_id,
       |           CAST(row_number() OVER (
       |             PARTITION BY p.probe_id
       |             ORDER BY round(${cosineSimilaritySql("a.e", "p.pv")}, 6) + 0.0 DESC,
       |                      a.vec_id) AS BIGINT) AS rkv
       |    FROM emb a CROSS JOIN pv p)
       |  WHERE rkv <= $FusionDepth),
       |fused AS (
       |  SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         CAST(coalesce(1000000 // ($RrfK + l.rkb), 0)
       |            + coalesce(1000000 // ($RrfK + v.rkv), 0) AS BIGINT) AS rrf,
       |         CAST(coalesce(l.rkb, 0) AS BIGINT) AS rkb,
       |         CAST(coalesce(v.rkv, 0) AS BIGINT) AS rkv
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id)
       |SELECT probe_id, rk, doc_id, rrf, rkb, rkv FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
       |  FROM fused)
       |WHERE rk <= $Bm25K""".stripMargin
  }

  /** Twin of [[hybridIvf]]: the lex leg + fusion are IDENTICAL to
    * [[hybridSql]]; only the vector-leg CTE changes — it replays the
    * IVF search from the exported quantizer centroids exactly as the
    * proven q_ann_ivf twin does (exact squared-L2 assignment in index
    * order, (cdist, cluster) probe ranking, in-list cosine top-k).
    */
  private def hybridIvfSql: String = {
    import graft.functions.VectorOps.{cosineSimilaritySql, l2DistanceSql}
    val ivfPath = graft.queries.VectorQueries.ivfExportPath
    s"""WITH $bm25ScoredCtes,
       |lex AS (
       |  SELECT probe_id, doc_id, rkb FROM (
       |    SELECT probe_id, doc_id,
       |           CAST(row_number() OVER (
       |             PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rkb
       |    FROM scored)
       |  WHERE rkb <= $FusionDepth),
       |cents AS (SELECT cluster, centroid FROM '$ivfPath/*.parquet'),
       |embv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |${graft.queries.VectorQueries.assignCteOver("embv", "assigned")},
       |vprobes AS (SELECT vec_id AS probe_id, e AS pv FROM embv WHERE vec_id < $Bm25Probes),
       |plists AS (
       |  SELECT probe_id, pv, cluster FROM (
       |    SELECT p.probe_id, p.pv, c.cluster,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY ${l2DistanceSql("p.pv", "c.centroid")}, c.cluster) AS crk
       |    FROM vprobes p CROSS JOIN cents c)
       |  WHERE crk <= (SELECT greatest(1, count(*) // 4) FROM cents)),
       |vec AS (
       |  SELECT probe_id, doc_id, rkv FROM (
       |    SELECT l.probe_id, a.vec_id AS doc_id,
       |           CAST(row_number() OVER (PARTITION BY l.probe_id
       |             ORDER BY round(${cosineSimilaritySql("a.e", "l.pv")}, 6) + 0.0 DESC,
       |                      a.vec_id) AS BIGINT) AS rkv
       |    FROM plists l JOIN assigned a ON a.cluster = l.cluster)
       |  WHERE rkv <= $FusionDepth),
       |fused AS (
       |  SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         CAST(coalesce(1000000 // ($RrfK + l.rkb), 0)
       |            + coalesce(1000000 // ($RrfK + v.rkv), 0) AS BIGINT) AS rrf,
       |         CAST(coalesce(l.rkb, 0) AS BIGINT) AS rkb,
       |         CAST(coalesce(v.rkv, 0) AS BIGINT) AS rkv
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id)
       |SELECT probe_id, rk, doc_id, rrf, rkb, rkv FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
       |  FROM fused)
       |WHERE rk <= $Bm25K""".stripMargin
  }

  // ---- int8 embedding quantization ----
  // Training pipelines ship embeddings quantized (4× smaller, cheaper
  // ANN): per-vector absmax scaling, q_i = round(x_i·127 / maxabs).
  // Stateless per-row expression; the quantized vector is emitted as a
  // comma-joined string so the oracle compare is exact-integer (both
  // engines format INT identically). Every float→double widening is
  // exact and the scalar ops are parenthesized identically in the twin,
  // so the doubles agree bit-for-bit before the round.
  private val embedQuantize: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("maxabs", array_max(transform(col("e"), x => abs(x))))
      .filter(col("maxabs") > 0)
      .select(col("vec_id"),
        (round(col("maxabs"), 6) + 0.0).as("maxabs_r"),
        concat_ws(",", transform(col("e"),
          x => round((x * lit(127.0)) / col("maxabs"), 0).cast("int").cast("string"))).as("q8"))

  // ---- end-to-end curation pipeline (the curation E1) ----
  // The full pre-training intake as ONE declared dataflow: quality
  // filter (q_gopher_filter's rules) → exact dedup (keeper = min id)
  // → deterministic split (q_data_split's bucket) → per-split audit
  // counts. Each stage is the already-verified operator; this query
  // proves they COMPOSE into a single Catalyst plan (no staging tables,
  // no driver round-trips) — the shape a 100 TB intake job actually
  // runs. One scan, two shuffles (dedup groupBy, split groupBy).
  private val StopPat = "\\b(the|a|and|of|to|in)\\b"

  private val curationPipeline: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .withColumn("nch", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("nalpha", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("nsym", length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("long"))
      .withColumn("n_stop",
        size(regexp_extract_all(col("text"), lit(StopPat), lit(0))).cast("long"))
    val kept = base.filter(
      col("n_tokens") >= 5 &&
        expr("(nalpha * 100) DIV greatest(n_tokens, 1)").between(300, 1000) &&
        expr("(nsym * 10000) DIV greatest(nch, 1)") <= 1000 &&
        col("n_stop") >= 2)
    val deduped = kept.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
    val bucket = pmod(knuth(col("doc_id")), lit(100))
    deduped
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  // ---- T5-style span corruption (denoising training-target gen) ----
  // The last step of an encoder-decoder training-data pipeline (Raffel
  // et al. 2020): mask short token spans with numbered sentinels, emit
  // (input, target) pairs. The published sampler is random; this engine
  // uses the deterministic block variant — positions partition into
  // [[CorruptBlock]]-token blocks, each block masks ONE [[CorruptSpan]]-
  // token span at offset md5(doc_id, block) % (B−L+1) — which keeps the
  // ~L/B corruption rate and non-overlap BY CONSTRUCTION (no sequential
  // scan; the published random sampler needs one to resolve overlaps)
  // and makes every byte replayable. Sentinels number 1..m in block
  // order; target = sentinel_k + its masked tokens, concatenated.
  // Result carries md5(input)/md5(target) — any indexing bug flips them.
  //
  // Scale: ONE exchange (repartition on doc_id before the explode —
  // the block window, both reconstructions and the final joins all
  // reuse it); windows and collect_lists are per-doc (bounded by doc
  // length); reconstruction = array_sort(struct(pos, tok)) — NEVER raw
  // collect_list order (the spans_removal rule).
  private[graft] val CorruptBlock = 10L
  private[graft] val CorruptSpan = 3L

  private val spanCorrupt: Q = (s, d) => {
    val nOff = CorruptBlock - CorruptSpan + 1
    val toks = graft.Scratch.persist(
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "tok")
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
        .withColumn("blk", expr(s"pos DIV $CorruptBlock"))
        .withColumn("off", pmod(
          conv(substring(md5(concat(col("doc_id").cast("string"), lit("#"),
            col("blk").cast("string"))), 1, 8), 16, 10).cast("long"), lit(nOff)))
        .withColumn("rel", expr(s"pos % $CorruptBlock"))
        .withColumn("inspan",
          col("rel") >= col("off") && col("rel") < col("off") + CorruptSpan))
    val masked = toks.filter(col("inspan"))
    // persisted (ADVICE r15): consumed by sentinels, tgtRows and spans —
    // unpersisted, the aggregation+window re-derived once per consumer
    val blocks = graft.Scratch.persist(
      masked.groupBy("doc_id", "blk").agg(min(col("off")).as("off"))
        .withColumn("k", row_number().over(
          Window.partitionBy("doc_id").orderBy("blk")).cast("long")))
    val sentTok = concat(lit("<extra_id_"), col("k"), lit(">"))
    val sentinels = blocks.select(col("doc_id"),
      (col("blk") * CorruptBlock + col("off")).as("pos"), sentTok.as("tok"))
    val inputAgg = toks.filter(!col("inspan"))
      .select(col("doc_id"), col("pos"), col("tok"))
      .unionAll(sentinels)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_in"),
        collect_list(struct(col("pos"), col("tok"))).as("lst"))
      .select(col("doc_id"), col("n_in"),
        expr("md5(array_join(transform(array_sort(lst), x -> x.tok), ' '))")
          .as("input_hash"))
    val tgtRows = blocks
      .select(col("doc_id"), col("blk"), lit(-1L).as("rel"), sentTok.as("tok"))
      .unionAll(masked.select(col("doc_id"), col("blk"), col("rel"), col("tok")))
    val targetAgg = tgtRows.groupBy("doc_id")
      .agg(collect_list(struct(col("blk"), col("rel"), col("tok"))).as("lst"))
      .select(col("doc_id"),
        expr("md5(array_join(transform(array_sort(lst), x -> x.tok), ' '))")
          .as("target_hash"))
    val spans = blocks.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    inputAgg.join(spans, Seq("doc_id"), "left").join(targetAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"), col("n_in"),
        col("input_hash"),
        coalesce(col("target_hash"), md5(lit(""))).as("target_hash"))
  }

  private def spanCorruptSql: String = {
    val nOff = CorruptBlock - CorruptSpan + 1
    s"""WITH t2 AS MATERIALIZED (
       |  SELECT doc_id, pos, tok, blk, rel,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(blk AS VARCHAR)), 1, 8))::BIGINT % $nOff AS off
       |  FROM (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok,
       |               CAST((i - 1) // $CorruptBlock AS BIGINT) AS blk,
       |               CAST((i - 1) % $CorruptBlock AS BIGINT) AS rel
       |        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
       |              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))),
       |masked AS (SELECT * FROM t2 WHERE rel >= off AND rel < off + $CorruptSpan),
       |blocks AS MATERIALIZED (
       |  SELECT doc_id, blk, min(off) AS off,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY blk) AS BIGINT) AS k
       |  FROM masked GROUP BY doc_id, blk),
       |sent AS (SELECT doc_id, blk * $CorruptBlock + off AS pos,
       |                '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok
       |         FROM blocks),
       |inp AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_in,
       |         md5(array_to_string(list(tok ORDER BY pos), ' ')) AS input_hash
       |  FROM (SELECT doc_id, pos, tok FROM t2 WHERE NOT (rel >= off AND rel < off + $CorruptSpan)
       |        UNION ALL SELECT doc_id, pos, tok FROM sent)
       |  GROUP BY doc_id),
       |tgt AS (
       |  SELECT doc_id, md5(array_to_string(list(tok ORDER BY blk, rel), ' ')) AS target_hash
       |  FROM (SELECT doc_id, blk, CAST(-1 AS BIGINT) AS rel,
       |               '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok FROM blocks
       |        UNION ALL SELECT doc_id, blk, rel, tok FROM masked)
       |  GROUP BY doc_id),
       |sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM blocks GROUP BY doc_id)
       |SELECT i.doc_id, coalesce(sp.n_spans, 0) AS n_spans, i.n_in, i.input_hash,
       |       coalesce(t.target_hash, md5('')) AS target_hash
       |FROM inp i LEFT JOIN sp ON sp.doc_id = i.doc_id
       |LEFT JOIN tgt t ON t.doc_id = i.doc_id""".stripMargin
  }

  // ---- positional phrase retrieval (r17) ----
  // The retrieval capability BM25's bag-of-words postings cannot
  // express: exact phrase match. The scale algorithm is the standard
  // positional-postings one — (tok, doc, pos) postings, phrase hit =
  // p1 ⋈ p2 on (doc_id, pos+1 = pos) — never a per-query corpus text
  // scan: probe terms broadcast-prefilter the postings stream, so only
  // postings of query tokens survive the scan and the positional join
  // is bounded by the probe terms' document frequency. Probes are the
  // (distinct) token-3..4 bigrams of every doc_id ≡ 5 (mod 29), so
  // each phrase's source doc guarantees ≥1 hit. The oracle is a
  // DIFFERENT algorithm entirely — substring containment on the
  // space-joined text (single-space ASCII corpus ⇒ ' '||text||' '
  // containing ' '||phrase||' ' is exactly token adjacency) plus a
  // token-grid occurrence count — so hash equality cross-checks the
  // postings algebra against a direct definition, not a mirror of
  // itself.
  private val phraseQ: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val probes = docs
      .filter(pmod(col("doc_id"), lit(29)) === 5 &&
        size(split(col("text"), " ")) >= 4)
      .select(array_join(slice(split(col("text"), " "), 3, 2), " ").as("phrase"))
      .distinct()
      .select(col("phrase"),
        element_at(split(col("phrase"), " "), 1).as("t1"),
        element_at(split(col("phrase"), " "), 2).as("t2"))
    val post = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    // prefilter by DISTINCT probe tokens and keep the streams NARROW
    // (doc_id, pos, tok): joining probes before the positional merge
    // duplicated every t1 posting once per phrase sharing that t1 and
    // dragged the phrase string through the shuffle — measured 40× wall
    // at 10× data for a linear-work operator. Phrases attach AFTER the
    // merge, when only adjacent probe-token pairs remain.
    // two codegen'd scan branches, deliberately NOT a shared persist: an
    // A/B at 10× measured the persisted single-scan form at 16.9 s vs
    // 13.5 s for the re-scan — materializing the 16M-row posting stream
    // is a serial wave that costs more than the second scan+explode it
    // saves (the serial-stage-wave class)
    val rp1 = post
      .join(broadcast(probes.select(col("t1").as("pt")).distinct()),
        col("tok") === col("pt"))
      .select(col("doc_id"), col("pos"), col("tok").as("w1"))
    val rp2 = post
      .join(broadcast(probes.select(col("t2").as("pt")).distinct()),
        col("tok") === col("pt"))
      .select(col("doc_id").as("d2"), col("pos").as("pos2"), col("tok").as("w2"))
    val matches = rp1.join(rp2,
      col("d2") === col("doc_id") && col("pos2") === col("pos") + 1)
      .join(broadcast(probes),
        col("w1") === col("t1") && col("w2") === col("t2"))
      .select(col("phrase"), col("doc_id"))
    matches.groupBy("phrase", "doc_id").agg(count(lit(1)).as("occ"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"),
        sum(col("doc_id")).as("sum_ids"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("phrase")
  }

  private val phraseSql: String =
    """WITH pr AS MATERIALIZED (
      |  SELECT DISTINCT array_to_string(toks[3:4], ' ') AS phrase,
      |         toks[3] AS t1, toks[4] AS t2
      |  FROM (SELECT string_split(text, ' ') AS toks FROM documents
      |        WHERE doc_id % 29 = 5)
      |  WHERE len(toks) >= 4),
      |m AS MATERIALIZED (
      |  SELECT p.phrase, d.doc_id,
      |         CAST(len(list_filter(generate_series(1, len(d.toks) - 1),
      |              i -> d.toks[i] = p.t1 AND d.toks[i+1] = p.t2)) AS BIGINT) AS occ
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents) d
      |  CROSS JOIN pr p
      |  WHERE instr(' ' || d.text || ' ', ' ' || p.phrase || ' ') > 0)
      |SELECT phrase, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(occ) AS BIGINT) AS n_occ,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |       CAST(min(doc_id) AS BIGINT) AS min_id,
      |       CAST(max(doc_id) AS BIGINT) AS max_id
      |FROM m GROUP BY phrase ORDER BY phrase""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_phrase_match" -> phraseQ,
    "q_span_corrupt" -> spanCorrupt,
    "q_curation_pipeline" -> curationPipeline,
    "q_decontaminate" -> decontaminate,
    "q_sample_balanced" -> sampleBalanced,
    "q_mix_upsample" -> mixUpsample,
    "q_mix_temperature" -> mixTemperature,
    "q_tfidf_terms" -> tfidfTerms,
    "q_bm25_topk" -> bm25,
    "q_bm25_rm3" -> bm25Rm3,
    "q_bm25_upsert" -> bm25Upsert,
    "q_retrieval_mrr" -> retrievalMrr,
    "q_retrieval_ndcg" -> retrievalNdcg,
    "q_hybrid_retrieval" -> hybrid,
    "q_hybrid_retrieval_ivf" -> hybridIvf,
    "q_embed_quantize" -> embedQuantize)

  val oracle: Map[String, String] = Map(
    "q_phrase_match" -> phraseSql,
    "q_span_corrupt" -> spanCorruptSql,
    "q_curation_pipeline" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |         CAST(length(text) AS BIGINT) AS nch,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nalpha,
         |         CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS nsym,
         |         CAST(len(regexp_extract_all(text, '$StopPat')) AS BIGINT) AS n_stop
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, text, n_tokens FROM base
         |  WHERE n_tokens >= 5
         |    AND (nalpha * 100) // greatest(n_tokens, 1) BETWEEN 300 AND 1000
         |    AND (nsym * 10000) // greatest(nch, 1) <= 1000
         |    AND n_stop >= 2),
         |deduped AS (
         |  SELECT min(doc_id) AS doc_id, min_by(n_tokens, doc_id) AS n_tokens
         |  FROM kept GROUP BY md5(text))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM (
         |  SELECT CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
         |              WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split, n_tokens
         |  FROM deduped)
         |GROUP BY split""".stripMargin,
    "q_decontaminate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id+100000 AS doc_id, substr(text, instr(text, ' ')+1) AS text FROM documents),
        |split AS (
        |  SELECT doc_id, text,
        |         CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |              WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM corpus),
        |allsh AS (
        |  SELECT doc_id, split,
        |         unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(len(string_split(text, ' '))-2, 1)),
        |           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
        |  FROM split),
        |rare AS (SELECT sh FROM allsh GROUP BY sh HAVING count(*) <= 10),
        |sh AS (SELECT a.* FROM allsh a JOIN rare USING (sh))
        |SELECT a.doc_id AS doc_id, count(DISTINCT a.sh) AS n_shared,
        |       count(DISTINCT b.doc_id) AS n_test_docs
        |FROM sh a JOIN sh b ON a.sh = b.sh AND a.split = 'train' AND b.split = 'test'
        |GROUP BY a.doc_id""".stripMargin,
    "q_sample_balanced" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS BIGINT) AS rk
         |  FROM documents)
         |WHERE rk <= $SampleCap""".stripMargin,
    "q_mix_temperature" -> mixTemperatureSql,
    "q_mix_upsample" ->
      s"""WITH cnt AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |mx AS (SELECT max(cnt) AS maxc FROM cnt),
         |eb AS (SELECT lang, least((maxc * 10000) // cnt, $MixCapBp) AS epochs_bp
         |       FROM cnt CROSS JOIN mx),
         |base AS (SELECT doc_id, lang, epochs_bp,
         |                (epochs_bp // 10000) +
         |                (CASE WHEN (doc_id * 2654435761) % 4294967296 % 10000
         |                           < epochs_bp % 10000 THEN 1 ELSE 0 END) AS n_copies
         |         FROM documents JOIN eb USING (lang))
         |SELECT doc_id, lang, epochs_bp,
         |       unnest(generate_series(1, n_copies)) AS copy
         |FROM base""".stripMargin,
    "q_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY source, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
        |SELECT source, tok, tf, df, score_bp, rk FROM (
        |  SELECT source, tok, tf, df, (tf*10000) // df AS score_bp,
        |         CAST(row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY (tf*10000) // df DESC, tok) AS BIGINT) AS rk
        |  FROM tf JOIN df USING (tok))
        |WHERE rk <= 10""".stripMargin,
    "q_bm25_topk" -> bm25Sql,
    "q_bm25_rm3" -> rm3Sql,
    // q_retrieval_mrr twin: the standing-index CTE block with the probe
    // definition swapped to the MUTATED texts; the relevant doc's rank
    // is read off the full per-probe ranking
    "q_retrieval_mrr" -> {
      val probesSql =
        s"""SELECT DISTINCT probe_id, tok FROM (
           |    SELECT doc_id AS probe_id,
           |           unnest(string_split(substr(text, instr(text, ' ') + 1), ' ')[1:$Bm25QTerms]) AS tok
           |    FROM documents WHERE doc_id < $MrrProbes)""".stripMargin
      s"""WITH ${bm25ScoredCtesWith(probesSql)},
         |ranked AS (
         |  SELECT probe_id, doc_id,
         |         CAST(row_number() OVER (
         |           PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT b.probe_id,
         |       coalesce(r.rk, 0) AS rel_rank,
         |       CAST(CASE WHEN r.rk IS NULL THEN 0 ELSE 1000000 // r.rk END AS BIGINT) AS rr_e6
         |FROM (SELECT doc_id AS probe_id FROM documents WHERE doc_id < $MrrProbes) b
         |LEFT JOIN (SELECT * FROM ranked WHERE rk <= $Bm25K AND doc_id = probe_id) r
         |  USING (probe_id)""".stripMargin
    },
    // q_bm25_upsert twin: FULL REBUILD over the unioned corpus —
    // postings, lens, totals and the df behind probe_df are re-derived
    // from scratch; only idf_e6 (the transcendental) reads the upserted
    // export, so any incremental-merge drift on the Spark side flips
    // the hash
    "q_bm25_upsert" ->
      s"""WITH ${bm25UpsertScoredCtesWith(
             s"""SELECT DISTINCT probe_id, tok FROM (
                |    SELECT doc_id AS probe_id,
                |           unnest(string_split(text, ' ')[1:$Bm25QTerms]) AS tok
                |    FROM delta WHERE doc_id < ${700000L + Bm25Probes * Bm25UpsertMod})""".stripMargin)},
         |dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY tok),
         |pdf AS (SELECT p.probe_id, CAST(sum(d.df) AS BIGINT) AS probe_df
         |        FROM probes p
         |        JOIN terms tm ON tm.tok = p.tok
         |        JOIN dfr d ON d.tok = p.tok
         |        GROUP BY p.probe_id)
         |SELECT s.probe_id, s.rk, s.doc_id, s.score, pdf.probe_df
         |FROM (
         |  SELECT probe_id, doc_id, score,
         |         CAST(row_number() OVER (
         |           PARTITION BY probe_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
         |  FROM scored) s
         |JOIN pdf USING (probe_id)
         |WHERE s.rk <= $Bm25K""".stripMargin,
    "q_retrieval_ndcg" -> ndcgSql,
    "q_hybrid_retrieval" -> hybridSql,
    "q_hybrid_retrieval_ivf" -> hybridIvfSql,
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM e)
        |SELECT vec_id, round(maxabs, 6) + 0.0 AS maxabs_r,
        |       array_to_string(list_transform(e,
        |         x -> CAST(round((x * 127.0) / maxabs) AS INT)), ',') AS q8
        |FROM m WHERE maxabs > 0""".stripMargin)
}
