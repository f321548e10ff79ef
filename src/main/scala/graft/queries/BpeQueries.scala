package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.BpeTokenizer

/** Subword (BPE) tokenization pack (r13, VERDICT r12 #2 — ranked #1
  * missing operator): a deterministic corpus-trained byte-pair encoder
  * whose merges table is EXPORTED (the idf/centroid export pattern) and
  * whose tokenization the DuckDB twins REPLAY from that export with a
  * recursive CTE — so the per-doc token counts, the global token
  * distribution, and the BPE-budget sequence packing are all
  * hash-checked end to end, not invariant-fenced.
  *
  * Scale shape (the reason this is not a per-row UDF over `text`):
  * tokenization factors through the DISTINCT-WORD table — encode each
  * distinct word ONCE (`mapPartitions` over the word table, merges
  * riding in the closure: ≤ MaxMerges entries), then equi-join the
  * per-doc word counts back. A 100 TB corpus re-uses each distinct
  * word's encoding across every occurrence; per-doc aggregation is one
  * map-side-combined groupBy. Training is bounded by MaxTrainWords
  * (top-K by frequency — how production tokenizers bound their training
  * sample) and runs on the driver over ≤ K (word, count) pairs.
  */
object BpeQueries {
  type Q = (SparkSession, String) => DataFrame

  /** 64 merges: enough for frequent words to merge to 1-2 tokens while
    * rare words keep subword structure (real BPE behavior); small
    * enough that the oracle's recursive replay is trivially cheap.
    */
  private[graft] val MaxMerges = 64

  /** Training-sample bound: top-K distinct words by (count desc, word
    * asc). Driver holds ≤ K (word, count) pairs regardless of corpus
    * size — the FAISS-style sample-bounded-training convention the IVF
    * quantizer also follows.
    */
  private[graft] val MaxTrainWords = 32768

  /** ranks = the trained merge table; wordToks = (w, toks, wc, n_tok)
    * for every distinct corpus word, persisted (every query in the pack
    * joins it); termsPath = the per-dir merges export the engine reads.
    */
  final case class BpeModel(ranks: Map[(String, String), Int],
      wordToks: DataFrame, termsPath: String)

  private val cache =
    graft.SessionCache.artifact[BpeModel]("bpe_model")(_.wordToks.unpersist())

  /** Fixed-path merges export the static oracle SQL replays — same
    * last-build-wins / one-dir-per-Verify constraint as the graph, E1,
    * BM25 and KMeans exports (documented in CLAUDE.md).
    */
  private def bpeExportPath: String = java.nio.file.Paths
    .get(sys.props("java.io.tmpdir"), "graft_bpe_merges").toString

  private[graft] def model(s: SparkSession, d: String): BpeModel =
    cache.getOrElseUpdate(s, d) {
      val sp = s
      import sp.implicits._
      // distinct words + corpus counts: one scan, map-side combined
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .persist()
      val top = words.orderBy(col("wc").desc, col("w")).limit(MaxTrainWords)
        .as[(String, Long)].collect()
      val merges = BpeTokenizer.trainMerges(top.toSeq, MaxMerges)
      val ranks = merges.zipWithIndex.map { case (p, i) => (p, i) }.toMap
      val mergesDf = merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }.toSeq.toDF("rank", "lhs", "rhs")
      // per-dir path = what a multi-dir session would key on; fixed
      // path = a file copy for the static oracle SQL (the BM25 pattern)
      val dirPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_bpe_merges_" + graft.Scratch.dirTag(d)).toString
      mergesDf.coalesce(1).write.mode("overwrite").parquet(dirPath)
      s.read.parquet(dirPath).write.mode("overwrite").parquet(bpeExportPath)
      // encode each distinct word exactly once; merges ride in the task
      // closure (≤ MaxMerges entries). Materialized here so `words` can
      // be dropped and the model owns ONE persisted frame.
      val wordToks = words.as[(String, Long)]
        .mapPartitions { it =>
          it.map { case (w, c) => (w, BpeTokenizer.encode(w, ranks).toSeq, c) }
        }
        .toDF("w", "toks", "wc")
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .persist()
      wordToks.count()
      words.unpersist()
      BpeModel(ranks, wordToks, dirPath)
    }

  /** Bench artifact hook: trains + exports + encodes the word table
    * cold, so the queries measure the join/agg serving work.
    */
  private[graft] val rebuildBpe: Q = (s, d) => model(s, d).wordToks

  /** Per-doc (doc_id, word) counts — the join-back side every query
    * shares. Empty-string tokens are excluded (BPE of "" is no tokens).
    */
  private def docWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("wf"))

  private def perDocCounts(s: SparkSession, d: String): DataFrame =
    docWords(s, d)
      .join(model(s, d).wordToks.select("w", "n_tok"), Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("wf")).as("n_words"),
        sum(col("wf") * col("n_tok")).as("n_tokens_bpe"))

  /** q_tokenize_bpe: per-doc subword token count — the number every
    * downstream consumer of "n_tokens" actually wants (left join keeps
    * empty docs at 0 in both engines).
    */
  private val tokenizeBpe: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDocCounts(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens_bpe"), lit(0L)).as("n_tokens_bpe"))

  /** q_bpe_terms: the learned vocabulary in use — global top-30 BPE
    * tokens by corpus frequency (token occurrences weighted by word
    * counts). Global top-k via TakeOrdered (no unpartitioned window).
    */
  private val bpeTerms: Q = (s, d) =>
    model(s, d).wordToks
      .select(explode(col("toks")).as("tok"), col("wc"))
      .groupBy("tok").agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(30)

  /** q_bpe_fertility: per-language tokenizer fertility — BPE tokens per
    * word in basis points, the standard tokenizer-efficiency eval (a
    * language whose words fragment into many subwords pays more compute
    * per word; multilingual tokenizer papers report exactly this ratio).
    * Factors through the same distinct-word encode table as every BPE
    * query (encode once per distinct word, weight by counts); per-lang
    * word counts are one map-side-combined aggregation.
    */
  private val bpeFertility: Q = (s, d) => {
    val lw = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("wf"))
    lw.join(model(s, d).wordToks.select("w", "n_tok"), Seq("w"))
      .groupBy("lang")
      .agg(sum(col("wf")).as("n_words"),
        sum(col("wf") * col("n_tok")).as("n_tokens_bpe"))
      .select(col("lang"), col("n_words"), col("n_tokens_bpe"),
        expr("(n_tokens_bpe * 10000) DIV n_words").as("fertility_bp"))
  }

  /** q_pack_sequences_bpe: q_pack_sequences' interval-intersection
    * packing, but budgeted in BPE tokens — the units a trainer packs
    * by. Same adaptive prefix sum; docs tokenizing to 0 BPE tokens are
    * excluded in both engines (keeps every DIV operand positive).
    */
  private val packSeqBpe: Q = (s, d) =>
    TextAnalyticsQueries.packBySource(s, d, Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .join(perDocCounts(s, d).select(col("doc_id"), col("n_tokens_bpe")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens_bpe"), lit(0L)).as("n_tok"))
      .filter(col("n_tok") > 0))

  // O-32's window geometry (TextAnalyticsQueries WinSize/WinStride) —
  // the BPE variant slides the same windows over the SUBWORD stream
  private val WinSize = 48
  private val WinStride = 24

  /** q_token_windows_bpe: O-32's sliding windows in BPE-token units —
    * the context windows an LLM pipeline actually cuts. Window k of a
    * doc covers token positions [k·stride, k·stride+size); every
    * window holding ≥1 token is emitted (identical window set to
    * O-32's ceil(n/stride) convention). Shape: the token stream is
    * NEVER materialized per occurrence ahead of a shuffle — the
    * distinct-word join carries (toks, n_tok), a per-doc prefix sum
    * places each word, posexplode emits (position, token), and the
    * interval-intersection explode assigns windows — the
    * q_pack_sequences pattern one level down. All window ids from
    * integer DIV with non-negative operands (trunc == floor).
    */
  private val tokenWindowsBpe: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").as("wpos"), col("col").as("w"))
      .filter(col("w") =!= "")
    words.join(model(s, d).wordToks.select("w", "toks", "n_tok"), Seq("w"))
      .withColumn("cum", sum(col("n_tok")).over(
        Window.partitionBy("doc_id").orderBy("wpos")))
      .select(col("doc_id"), (col("cum") - col("n_tok")).as("wstart"),
        posexplode(col("toks")))
      .withColumn("tpos", col("wstart") + col("pos"))
      .withColumn("win_id", explode(expr(
        s"sequence(CASE WHEN tpos < $WinSize THEN CAST(0 AS BIGINT) " +
          s"ELSE (tpos - $WinSize) DIV $WinStride + 1 END, tpos DIV $WinStride)")))
      .groupBy("doc_id", "win_id")
      .agg(count(lit(1)).as("n_in_win"),
        min_by(col("col"), col("tpos")).as("first_tok"),
        max_by(col("col"), col("tpos")).as("last_tok"))
      .select(col("doc_id"), col("win_id").cast("long").as("win_id"),
        (col("win_id") * WinStride).cast("long").as("win_start"),
        col("n_in_win"), col("first_tok"), col("last_tok"))
  }

  /** The shared replay CTEs: tokenize every distinct corpus word from
    * the exported merges with a recursive CTE implementing the exact
    * single-step leftmost-lowest-rank rule of [[BpeTokenizer.encode]]
    * — each step finds the adjacent pair with the minimum exported
    * rank (list_position = leftmost on ties) and splices the merge.
    * Pair keys are `lhs || chr(1) || rhs`; the corpus is printable
    * ASCII (verified), so chr(1) cannot collide with token content.
    */
  private def bpeCtes: String =
    s"""mmap AS (
       |  SELECT map(list(lhs || chr(1) || rhs), list(rank)) AS m
       |  FROM '$bpeExportPath/*.parquet'),
       |words AS (
       |  SELECT DISTINCT tok AS w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> ''),
       |bpe AS (
       |  SELECT w, list_transform(generate_series(1, length(w)), i -> w[i]) AS toks,
       |         false AS done
       |  FROM words
       |  UNION ALL
       |  SELECT w,
       |         CASE WHEN p IS NULL THEN toks
       |              ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:] END AS toks,
       |         p IS NULL AS done
       |  FROM (
       |    SELECT w, toks,
       |           CASE WHEN ranks IS NULL OR len(ranks) = 0
       |                     OR list_min(ranks) = 2147483647 THEN NULL
       |                ELSE list_position(ranks, list_min(ranks)) END AS p
       |    FROM (
       |      SELECT w, toks,
       |             list_transform(generate_series(1, len(toks)-1),
       |               i -> coalesce(map_extract(m, toks[i] || chr(1) || toks[i+1])[1],
       |                             2147483647)) AS ranks
       |      FROM bpe, mmap WHERE NOT done))),
       |wordtok AS (
       |  SELECT w, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM bpe WHERE done),
       |doctoks AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS wf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY doc_id, w),
       |perdoc AS (
       |  SELECT dt.doc_id, CAST(sum(dt.wf) AS BIGINT) AS n_words,
       |         CAST(sum(dt.wf * wt.n_tok) AS BIGINT) AS n_tokens_bpe
       |  FROM doctoks dt JOIN wordtok wt ON wt.w = dt.w
       |  GROUP BY dt.doc_id)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_tokenize_bpe" -> tokenizeBpe,
    "q_bpe_fertility" -> bpeFertility,
    "q_bpe_terms" -> bpeTerms,
    "q_pack_sequences_bpe" -> packSeqBpe,
    "q_token_windows_bpe" -> tokenWindowsBpe)

  val oracle: Map[String, String] = Map(
    "q_tokenize_bpe" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT d.doc_id,
         |       CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
         |       CAST(coalesce(p.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    "q_bpe_fertility" ->
      s"""WITH RECURSIVE $bpeCtes,
         |lw AS (
         |  SELECT lang, tok AS w, CAST(count(*) AS BIGINT) AS wf FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY lang, tok)
         |SELECT lang, n_words, n_tokens_bpe,
         |       (n_tokens_bpe * 10000) // n_words AS fertility_bp
         |FROM (SELECT lang, CAST(sum(wf) AS BIGINT) AS n_words,
         |             CAST(sum(wf * wt.n_tok) AS BIGINT) AS n_tokens_bpe
         |      FROM lw JOIN wordtok wt USING (w) GROUP BY lang)""".stripMargin,
    "q_bpe_terms" ->
      s"""WITH RECURSIVE $bpeCtes,
         |wcounts AS (
         |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS wc FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY tok)
         |SELECT tok, n FROM (
         |  SELECT t.tok, CAST(sum(wc.wc) AS BIGINT) AS n
         |  FROM (SELECT w, unnest(toks) AS tok FROM wordtok) t
         |  JOIN wcounts wc ON wc.w = t.w
         |  GROUP BY t.tok)
         |ORDER BY n DESC, tok LIMIT 30""".stripMargin,
    "q_token_windows_bpe" ->
      s"""WITH RECURSIVE $bpeCtes,
         |wordsq AS (
         |  SELECT doc_id, wpos, sp[wpos] AS w FROM (
         |    SELECT doc_id, string_split(text, ' ') AS sp,
         |           unnest(generate_series(1, len(string_split(text, ' ')))) AS wpos
         |    FROM documents)
         |  WHERE sp[wpos] <> ''),
         |seq0 AS (
         |  SELECT q.doc_id, q.wpos, wt.toks, wt.n_tok,
         |         CAST(sum(wt.n_tok) OVER (PARTITION BY q.doc_id ORDER BY q.wpos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM wordsq q JOIN wordtok wt ON wt.w = q.w),
         |toksq AS (
         |  SELECT doc_id, CAST(cum - n_tok + ti - 1 AS BIGINT) AS tpos, toks[ti] AS tok
         |  FROM (SELECT *, unnest(generate_series(1, CAST(n_tok AS INT))) AS ti FROM seq0)),
         |wins AS (
         |  SELECT doc_id, tpos, tok,
         |         unnest(generate_series(
         |           CASE WHEN tpos < $WinSize THEN 0 ELSE (tpos - $WinSize) // $WinStride + 1 END,
         |           tpos // $WinStride)) AS win_id
         |  FROM toksq)
         |SELECT doc_id, CAST(win_id AS BIGINT) AS win_id,
         |       CAST(win_id * $WinStride AS BIGINT) AS win_start,
         |       CAST(count(*) AS BIGINT) AS n_in_win,
         |       min_by(tok, tpos) AS first_tok, max_by(tok, tpos) AS last_tok
         |FROM wins GROUP BY doc_id, win_id""".stripMargin,
    "q_pack_sequences_bpe" ->
      s"""WITH RECURSIVE $bpeCtes,
         |c AS (
         |  SELECT d.doc_id, d.source,
         |         CAST(coalesce(p.n_tokens_bpe, 0) AS BIGINT) AS n_tok
         |  FROM documents d LEFT JOIN perdoc p USING (doc_id)),
         |f AS (SELECT * FROM c WHERE n_tok > 0),
         |w AS (
         |  SELECT doc_id, source, n_tok,
         |         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
         |  FROM f),
         |${TextAnalyticsQueries.packTailSql("w")}""".stripMargin)
}
