package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-selection operators for training-corpus curation — the "which
  * documents make the training set" layer that sits on top of the dedup
  * and quality families (reference anchor: the reference's preprocessing
  * pipeline selects and cleans its corpus before graph building,
  * `preprocessing_agent.py`; these two are the published large-scale
  * selection methods a 100 TB pipeline adds on top).
  *
  *  - `q_dsir_sample`: DSIR-style importance ranking (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling").
  *    Features are hashed word uni+bigrams into [[DsirBuckets]] buckets;
  *    the target distribution is the `lang = 'en'` slice, the raw
  *    distribution the whole corpus; a document's score is its mean
  *    per-feature target/raw probability ratio (add-1 smoothed). The
  *    published method sums log-ratios and Gumbel-resamples; this engine
  *    uses the integer probability-ratio surrogate (the tf-idf integer-
  *    surrogate precedent — a cross-engine `ln` is a libm last-ulp
  *    lottery) and deterministic top-k selection, which keeps every
  *    value exact BIGINT arithmetic in both engines.
  *  - `q_token_budget`: greedy token-budget selection — rank documents
  *    by the composite quality score and keep them, best first, until
  *    [[BudgetBp]] of the corpus' tokens are spent (the "fit the
  *    training budget" op every mixture pipeline runs last).
  *
  * Scale shapes: DSIR's feature model is a ≤[[DsirBuckets]]-row
  * aggregate (map-side combined) broadcast back onto the feature
  * stream — the corpus never shuffles on anything wider than the
  * 4096-value bucket key, and per-doc scoring is one map-side-combined
  * groupBy(doc_id); selection is a TakeOrderedAndProject top-k, never a
  * global sort. The token-budget cumulative sum goes through
  * [[graft.operators.Ordinals.prefixSum]]'s adaptive gate: plain
  * bounded-task window at bench SFs, the range-partitioned two-level
  * form (bit-identical) once the corpus outgrows one window task.
  */
object SelectionQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---- DSIR importance ranking ----

  private[graft] val DsirBuckets = 4096L
  private[graft] val DsirTopK = 100

  /** Hashed n-gram feature instances: (doc_id, lang, bucket), one row
    * per unigram and bigram INSTANCE (duplicates kept — DSIR counts
    * occurrences). Bucket = first 3 hex chars of md5(feature), the
    * engine-wide cross-engine hash idiom (minhash/simhash precedent).
    * Bigrams ride the native `token_shingles_all` codegen kernel.
    */
  private def dsirFeatures(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val uni = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("f"))
    val bi = docs.select(col("doc_id"), col("lang"),
      explode(call_function("token_shingles_all", col("text"), lit(2))).as("f"))
    uni.unionAll(bi)
      .select(col("doc_id"), col("lang"),
        conv(substring(md5(col("f")), 1, 3), 16, 10).cast("long").as("bucket"))
  }

  // ratio_bp = 1e4 · p_target(bucket) / p_raw(bucket), add-1 smoothed.
  // target ⊆ raw ⇒ t_cnt ≤ r_cnt, so ratio_bp ≤ 1e4·(Tr+m)/(Tt+m) — a
  // small bounded integer — and per-doc sums stay far inside BIGINT.
  // The ratio NUMERATOR (t_cnt+1)·(Tr+m)·1e4 and DENOMINATOR
  // (r_cnt+1)·(Tt+m) both overflow BIGINT at 100 TB token counts
  // (~2e13² = 4e26), so both widen through DECIMAL(38,0) — the
  // q_lm_score ppb precedent — and only the bounded quotient casts back.
  private val dsir: Q = (s, d) => {
    // scratch-persisted: consumed by the bucket model AND the scoring
    // join — the feature stream is the expensive part (two explodes +
    // md5 per instance)
    val feats = graft.Scratch.persist(dsirFeatures(s, d))
    val model = feats.groupBy("bucket").agg(
      count(lit(1)).as("r_cnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"))
    val totals = model.agg(sum(col("r_cnt")).as("tr"), sum(col("t_cnt")).as("tt"))
    val ratio = model.crossJoin(broadcast(totals))
      .select(col("bucket"), expr(
        s"""CAST((CAST(t_cnt + 1 AS DECIMAL(38,0)) * (tr + $DsirBuckets) * 10000)
           | DIV (CAST(r_cnt + 1 AS DECIMAL(38,0)) * (tt + $DsirBuckets)) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("ratio_bp"))
    feats.join(broadcast(ratio), Seq("bucket"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_feats"), sum(col("ratio_bp")).as("w"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        expr("w DIV n_feats").as("dsir_bp"))
      .orderBy(col("dsir_bp").desc, col("doc_id")).limit(DsirTopK)
  }

  private val dsirSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS f FROM documents
       |  UNION ALL
       |  SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM (SELECT doc_id, lang, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
       |        WHERE len(toks) >= 2)),
       |fb AS (
       |  SELECT doc_id, lang,
       |         (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 256
       |       + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
       |       + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) AS bucket
       |  FROM (SELECT doc_id, lang, substr(md5(f), 1, 3) AS h FROM f)),
       |m AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt,
       |         CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS t_cnt
       |  FROM fb GROUP BY bucket),
       |tot AS (SELECT CAST(sum(r_cnt) AS BIGINT) AS tr,
       |               CAST(sum(t_cnt) AS BIGINT) AS tt FROM m),
       |r AS (
       |  SELECT bucket,
       |         CAST((CAST(t_cnt + 1 AS HUGEINT) * (tr + $DsirBuckets) * 10000)
       |           // (CAST(r_cnt + 1 AS HUGEINT) * (tt + $DsirBuckets)) AS BIGINT) AS ratio_bp
       |  FROM m CROSS JOIN tot),
       |sc AS (
       |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_feats,
       |         CAST(sum(ratio_bp) AS BIGINT) AS w
       |  FROM fb JOIN r USING (bucket) GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_feats, w // n_feats AS dsir_bp
       |FROM sc ORDER BY dsir_bp DESC, doc_id LIMIT $DsirTopK""".stripMargin

  // ---- Greedy token-budget selection ----

  /** Fraction of the corpus' total tokens the selection may spend. */
  private[graft] val BudgetBp = 4000L

  private val tokenBudget: Q = (s, d) => {
    val q = TextAnalyticsQueries.quality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality_bp"))
    // ONE ascending order column for the prefix sum: struct
    // (-quality_bp, doc_id) sorts exactly as (quality_bp DESC, doc_id) —
    // prefixSum takes a single ord key, and struct range-partitioning is
    // what its bucketed branch sorts on past the 64k gate. The group key
    // is the documented non-foldable constant (a foldable lit(0) becomes
    // an EMPTY window spec — SketchQueries.quantilesOf precedent).
    val ordered = q
      .withColumn("_g", pmod(col("doc_id"), lit(1L)))
      .withColumn("_ord", struct((-col("quality_bp")).as("nq"), col("doc_id").as("d")))
    // gate stat (one constant group ⇒ max group = row count) from the
    // Stats catalog — skips the per-execution count job
    val nDocs = graft.Stats.documentCount(s, d)
    val cum = graft.operators.Ordinals.prefixSum(
      ordered, "_g", "_ord", "n_tokens", "cum_toks",
      knownMaxGroup = Some(nDocs))
    val budget = q.agg(expr(s"(sum(n_tokens) * $BudgetBp) DIV 10000").as("budget"))
    cum.crossJoin(broadcast(budget))
      .filter(col("cum_toks") <= col("budget"))
      .select("doc_id", "n_tokens", "quality_bp", "cum_toks")
  }

  private val tokenBudgetSql: String =
    s"""WITH q AS (${TextAnalyticsQueries.qualitySql}),
       |c AS (
       |  SELECT doc_id, n_tokens, quality_bp,
       |         CAST(sum(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
       |  FROM q),
       |b AS (SELECT CAST((sum(n_tokens) * $BudgetBp) // 10000 AS BIGINT) AS budget FROM q)
       |SELECT doc_id, n_tokens, quality_bp, cum_toks
       |FROM c CROSS JOIN b WHERE cum_toks <= budget""".stripMargin

  // ---- Deterministic corpus shuffle / curriculum ordering (r18) ----
  // The training-order reproducibility operator every 100 TB pipeline
  // runs next to q_shard_manifest/q_pack_sequences (VERDICT r17 next
  // #7): a seeded global permutation that is a PURE FUNCTION of doc_id
  // — shuffle key = the Knuth multiplicative hash (the q_data_split /
  // q_dp_release seed discipline), position = global rank by
  // (key, doc_id). Because the key is derived, not drawn, the
  // permutation is stable under repartitioning, re-runs, and
  // incremental arrival (a late-arriving doc slots into its
  // deterministic position without reshuffling anything already
  // assigned a position BEFORE it — positions after it shift by
  // exactly its insertion, the best any total order can do).
  // Shards are balanced position ranges: shard = (pos−1) DIV
  // ceil(n/16), so every shard holds a hash-random (≡ curriculum-
  // neutral) slice of equal size — the (shard, position) pair is what
  // a data loader replays. The global rank goes through the adaptive
  // [[graft.operators.Ordinals.rankAndCount]] under the documented
  // non-foldable constant group: one bounded window task at bench SFs,
  // the range-partitioned ordinal form past 64k rows (exercised at
  // 10×/100× — SCALE.md).
  private[graft] val ShuffleShards = 16L

  private val corpusShuffle: Q = (s, d) => {
    val keyed = Tables.documents(s, d).select(col("doc_id"))
      // widened through DECIMAL(38,0): doc_id·2654435761 passes 2⁶³
      // once doc_ids reach ~3.5e9 (the dp_release precedent)
      .withColumn("h",
        expr("CAST((CAST(doc_id AS DECIMAL(38,0)) * 2654435761) % 4294967296 AS BIGINT)"))
      .withColumn("_g", pmod(col("doc_id"), lit(1L)))
    val nDocs = graft.Stats.documentCount(s, d)
    val ranked = graft.operators.Ordinals.rankAndCount(
      keyed, "_g", Seq(col("h"), col("doc_id")), "pos", Some("n"),
      knownMaxGroup = Some(nDocs))
    val shardSize = s"((n + ${ShuffleShards - 1}) DIV $ShuffleShards)"
    ranked.select(col("doc_id"), col("h"), col("pos"),
      expr(s"(pos - 1) DIV $shardSize").as("shard"),
      expr(s"(pos - 1) % $shardSize + 1").as("pos_in_shard"))
      // unique-tie-break ordering, the engine-wide convention (r18
      // review): the data-loader replay this operator describes reads
      // by position, and unordered output would vary with parallelism
      .orderBy("pos")
  }

  private val corpusShuffleSql: String = {
    val shardSize = s"((n + ${ShuffleShards - 1}) // $ShuffleShards)"
    s"""WITH k AS (
       |  SELECT doc_id,
       |         CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, h,
       |         CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos,
       |         CAST(count(*) OVER () AS BIGINT) AS n
       |  FROM k)
       |SELECT doc_id, h, pos,
       |       (pos - 1) // $shardSize AS shard,
       |       (pos - 1) % $shardSize + 1 AS pos_in_shard
       |FROM r ORDER BY pos""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_dsir_sample" -> dsir,
    "q_token_budget" -> tokenBudget,
    "q_corpus_shuffle" -> corpusShuffle)

  val oracle: Map[String, String] = Map(
    "q_dsir_sample" -> dsirSql,
    "q_token_budget" -> tokenBudgetSql,
    "q_corpus_shuffle" -> corpusShuffleSql)
}
