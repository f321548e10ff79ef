package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._
import graft.operators.Chunker

/** Deduplication pack for the training-data pipeline (builder brief):
  * exact, MinHash-LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup — each a declared oracle-checked query.
  *
  * The synthetic documents are near-unique word soup, so near-dup
  * queries would trivially return nothing; each query therefore unions
  * in DETERMINISTIC mutated copies (doc_id+100000 with the first token
  * dropped; vec_id+100000 with dim 1 perturbed) built with the identical
  * expression in both engines — the dedup logic then has real work to do
  * and real pairs to find.
  *
  * Scale designs (the whole point of these formulations):
  *  - never all-pairs: MinHash candidates come from a BAND-BUCKET
  *    equi-join (shuffle on (band, band_key)); Jaccard pairs from a
  *    shingle inverted-index join (shuffle on shingle, df-bounded);
  *    embedding pairs from sign-LSH buckets. All are equi-joins Catalyst
  *    can hash-partition; none materialize n² pairs.
  *  - the only skew risk is a hot shingle/bucket; at 100 TB you'd add a
  *    document-frequency cap on shingles (drop df > K) before the join —
  *    noted here because the testdata doesn't need it.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---- corpora with planted near/exact duplicates ----

  private def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val mut = Tables.documents(s, d).select(
      (col("doc_id") + 100000L).as("doc_id"),
      expr("substring(text, instr(text, ' ')+1)").as("text"))
    docs.unionAll(mut)
  }
  private val corpusSql =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id+100000 AS doc_id, substr(text, instr(text, ' ')+1) AS text FROM documents)"

  // native token_shingles expression (ShingleExpressions.scala): one
  // substring pass instead of the interpreted split→transform→slice→
  // concat_ws chain, which profiling showed was the dominant cost of
  // every shingle query at sf0.1. Parity with the HOF form is asserted
  // in ShingleSpec; the DuckDB oracles keep the list-transform twin.
  private def shingles(c: DataFrame): DataFrame =
    c.select(col("doc_id"),
      explode(call_function("token_shingles", col("text"), lit(3))).as("sh"))
  private val shinglesSql =
    s"""(SELECT doc_id,
       |        unnest(list_distinct(list_transform(
       |          generate_series(1, greatest(len(string_split(text, ' '))-2, 1)),
       |          i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
       | FROM $corpusSql)""".stripMargin

  // ---- exact dedup: hash-groupBy, keeper = min id ----
  private val exact: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dup = Tables.documents(s, d).select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    docs.unionAll(dup)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
  }

  // ---- MinHash + LSH banding: 8 hashes, 4 bands of 2 ----
  // All 8 minhashes are computed as 8 min() aggregates in ONE pass over
  // the shingle table (map-side partial min, one shuffle on doc_id) —
  // exploding a seed column would multiply the shuffle volume ×8 for no
  // reason. The 8 hash views derive from ONE md5 per shingle (8 hex
  // windows at stride 3 — md5's bits are uniformly mixed, so distinct
  // windows order the shingle set near-independently): hashing was the
  // dominant cost, and 8 separate seeded md5s bought nothing the
  // windows don't (planted-pair recall stays 100%, tested). Bands then
  // unpivot from the 8 signature columns (4 rows/doc).
  /** The LSH band table (doc_id, band, bkey) for any (doc_id, text)
    * corpus — factored out so the hot-bucket guard can be exercised on an
    * adversarial corpus in `ScaleOpsSpec` (testdata itself has no hot
    * bucket; the declared query joins the table uncapped).
    */
  private[graft] def minhashBands(c: DataFrame): DataFrame =
    minhashBandsFromShingles(shingles(c))

  /** The (doc_id, mh0..mh7) signature frame: the md5 + 8-min
    * aggregation.
    *
    * NOTE (r19 A/B): min(string) compiles to a SortAggregate (min over
    * STRING has no fixed-width hash-agg buffer). Replacing the 8 mins
    * with mins over conv(hex,16,10)-parsed longs (order-isomorphic for
    * fixed-length hex) measured UNIFORMLY WORSE (+0.2–0.3 s on every
    * consumer at sf0.1): the per-row radix parse ×8 costs more than
    * the sort it removes at these row counts. Keep the string mins.
    */
  private def minhashSig(sh: DataFrame): DataFrame = {
    val seedAggs = (0 to 7).map(k =>
      min(substring(col("h"), 3 * k + 1, 8)).as(s"mh$k"))
    sh.withColumn("h", md5(col("sh")))
      .groupBy("doc_id")
      .agg(seedAggs.head, seedAggs.tail: _*)
  }

  /** Band table from an existing (doc_id, sh) shingle frame — so a
    * caller that needs BOTH the bands and the raw shingles (q_lsh_eval)
    * can persist the shingle generation once and feed both legs.
    */
  private[graft] def minhashBandsFromShingles(sh: DataFrame): DataFrame = {
    val sig = minhashSig(sh)
    val bandCols = (0 to 3).map(b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws("|", array_sort(array(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))))
          .as("bkey")))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Candidate pairs from a band table: bucket equi-join, a < b. */
  private[graft] def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  private[graft] val minhash: Q = (s, d) => {
    // scratch-persisted: the band table feeds BOTH sides of the
    // self-join, and its lineage (shingle generation + 8-way min agg) is
    // the expensive part — without this Spark recomputes it per side.
    // (r19 A/B: dropping the persist engine-wide measured +0.2 s net
    // over the 10 LSH consumers — the broadcast side rebuilds the
    // pipeline — EXCEPT where the pair table is consumed once inside a
    // larger plan with independent legs to overlap; that single winner
    // uses [[minhashUnpersisted]].)
    bandPairs(graft.Scratch.persist(minhashBands(corpus(s, d))))
  }

  /** The same candidate pairs WITHOUT the band-table scratch persist —
    * for a consumer that reads the pairs ONCE inside a larger plan
    * (q_doc_sim_tfidf): the persist is a blocking materialization wave
    * there, while unpersisted the band join overlaps the plan's
    * independent term pipeline. A/B at sf0.1: doc_sim 1.87 → 1.35 s
    * unpersisted, while every multi-consumption query is +0.1–0.2 s
    * without the persist — hence two entry points, not a flag.
    */
  private[graft] def minhashUnpersisted(s: SparkSession, d: String): DataFrame =
    bandPairs(minhashBands(corpus(s, d)))

  // ---- incremental delta-vs-corpus dedup ----
  // The 100 TB ingestion shape: a new shard arrives and is deduped
  // AGAINST the standing corpus without re-pairing the corpus with
  // itself — the LSH band join goes asymmetric (delta bands ⋈ corpus
  // bands), so the incremental cost is ∝ |delta| · bucket occupancy,
  // not |corpus|². In production the corpus band table is the standing
  // index (built once, appended per shard); here it is computed
  // in-query like every dedup twin (the fair-ratio convention — the
  // oracle recomputes it too). Novel docs surface as n_matches = 0.

  /** Incoming shard: near-dup mutations of the even half (first token
    * dropped — the corpus() mutation, LSH MUST match these) plus
    * genuinely novel docs (token-reversed odd half — reversal destroys
    * every 3-shingle, LSH must NOT match these).
    */
  private def deltaShard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 2 === 0).select(
        (col("doc_id") + 400000L).as("doc_id"),
        expr("substring(text, instr(text, ' ')+1)").as("text"))
      .unionAll(docs.filter(col("doc_id") % 2 === 1).select(
        (col("doc_id") + 400000L).as("doc_id"),
        expr("array_join(reverse(split(text, ' ')), ' ')").as("text")))
  }

  private val deltaDedup: Q = (s, d) => {
    val cb = minhashBands(Tables.documents(s, d).select(col("doc_id"), col("text")))
    val db = minhashBands(deltaShard(s, d))
    val matches = cb.as("c").join(db.as("n"),
        col("c.band") === col("n.band") && col("c.bkey") === col("n.bkey"))
      .select(col("n.doc_id").as("delta_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
      .groupBy("delta_id")
      .agg(min(col("corpus_id")).as("first_match"), count(lit(1)).as("n_matches"))
    // the verdict base only needs the ids, and every doc appears in the
    // shard — derive them arithmetically (a doc_id-pruned scan) instead
    // of re-running the shard's text mutations a second time
    Tables.documents(s, d).select((col("doc_id") + 400000L).as("delta_id"))
      .join(matches, Seq("delta_id"), "left")
      .select(col("delta_id"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  // ---- SimHash: 16-bit signature from md5 hex-digit parity ----
  // All 16 bit-sums are separate aggregates over ONE pass of the token
  // table (map-side combined) — exploding a bit-index column would
  // multiply the shuffle ×16 for no reason.
  private val simhash: Q = (s, d) => {
    val t = Tables.documents(s, d).select(
      col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", md5(col("tok")))
    def sign(j: Int) =
      when(pmod(expr(s"instr('0123456789abcdef', substring(h, ${j + 1}, 1))") - 1,
        lit(2)) === 1, 1L).otherwise(-1L)
    val sums = (0 to 15).map(j => sum(sign(j)).as(s"s$j"))
    t.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 to 15).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  // ---- n-gram Jaccard via shingle inverted-index join ----
  // Standard document-frequency pruning before the self-join: a shingle
  // appearing in many documents is non-discriminative and is exactly the
  // hot key that explodes an inverted-index join — dropping df > 10
  // bounds every join group at 10 postings (the oracle applies the same
  // cap, and na/nb are counted on the capped sets so Jaccard stays
  // consistent). Planted near-dup pairs survive on their rare shingles.
  private val DfCap = 10

  // scratch-persisted: the shingle table is consumed 3× (df stats,
  // both sides of the inverted-index self-join) and its generation
  // (explode + 3-gram construction) dominates the query — the .explain
  // without the persist shows SIX full recomputes of the Generate
  // subtree.
  private val jaccard: Q = (s, d) =>
    jaccardPairs(graft.Scratch.persist(shingles(corpus(s, d))))

  /** Jaccard pairs from an already-persisted (doc_id, sh) frame. */
  private[graft] def jaccardPairs(all: DataFrame): DataFrame = {
    val rare = all.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap).select("sh")
    val sh = graft.Scratch.persist(all.join(rare, Seq("sh")))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val shared = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.select(col("doc_id").as("doc_a"), col("nsh").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), Seq("doc_b"))
      .withColumn("jac_bp", expr("(shared*10000) DIV (na + nb - shared)"))
      .filter(col("jac_bp") >= 5000)
      .select("doc_a", "doc_b", "jac_bp")
  }

  // ---- embedding-cosine near-dup with sign-LSH bucket blocking ----
  // 8 sign bits → 256 buckets, so the within-bucket pair count is
  // ~(n/256)²·256 = n²/256 instead of n²; norms are precomputed ONCE per
  // vector (not per pair — that would triple the per-pair flops). Sign
  // buckets keep the query deterministic for the oracle. Recall gap of
  // single-probe (a near-dup whose perturbed dim flips one sign bit
  // lands in a sibling bucket) is closed by `q_dedup_embed_mp` below.
  // memoized per (session, dir): q_dedup_embed and q_dedup_embed_mp share
  // ONE persisted copy of the normed+bucketed vectors instead of each
  // caching their own. Query lifetime: the DuckDB twins recompute the
  // bucketing in-query, so Bench bills it to every query (Scratch.release)
  private val bucketedCache =
    graft.SessionCache.query[DataFrame]("dedup_lsh_buckets")(_.unpersist())

  // `bits` is the scale lever: bucket count must GROW with the corpus
  // (bits ≈ log2(n / target_occupancy)) to keep per-bucket pair work
  // constant — with bits fixed, candidates grow n²/2^bits and the join
  // goes quadratic (measured: 16× wall at 10× data with bits=8; ~linear
  // again at bits=12 — SCALE.md). The DECLARED queries therefore derive
  // bits from the corpus count via [[autoBits]] (r7 VERDICT #4), and the
  // DuckDB twins replay the IDENTICAL integer formula, so the result
  // stays hash-checkable at any SF.

  /** Target mean bucket occupancy for sign-LSH blocking. With b =
    * ceil(log2(n / 16)) the expected per-bucket pair work is ~16n/2 —
    * linear in the corpus instead of quadratic.
    */
  private val TargetOcc = 16L

  /** Occupancy-scaled sign-LSH bit count: the smallest b ≥ 8 with
    * 2^b ≥ corpus/[[TargetOcc]] (corpus = base + mutated twin = 2×
    * table count). Pure integer arithmetic — ceil-div then bit length —
    * because a float log2 diverges from DuckDB's in the last ulp exactly
    * at power-of-two boundaries; the twin computes the same value as
    * `greatest(8, length(bin(m-1)))`. Capped at 62 so the per-position
    * weight 1<<(bits-i) stays a valid BIGINT shift in both engines.
    */
  private[graft] def autoBits(s: SparkSession, d: String): Int = {
    val n = 2L * Tables.embeddings(s, d).count()
    val m = (n + TargetOcc - 1) / TargetOcc
    val b = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, m - 1))
    math.min(62, math.max(8, b))
  }

  /** The dynamic-bits twin of [[autoBits]], inlined into both embed
    * oracle CTEs. The `greatest(..., 0)` inside `bin` mirrors the Scala
    * side's `max(0, m-1)`: on an empty table m-1 = -1 and DuckDB's
    * `bin(-1)` is 64 one-bits (length 64 → 62), whereas bin(0) = "0"
    * (length 1 → floor 8), matching autoBits' empty-corpus answer.
    */
  private val autoBitsSql: String =
    s"SELECT least(62, greatest(8, length(bin(greatest(((count(*)*2 + ${TargetOcc - 1}) // $TargetOcc) - 1, 0))))) AS bits FROM embeddings"

  private def bucketed(s: SparkSession, d: String, bits: Int): DataFrame =
    bucketedCache.getOrElseUpdate(s, s"$d#b$bits") {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
      val mut = base.select((col("vec_id") + 100000L).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.05)), slice(col("e"), 2, 63)).as("e"))
      // positions past the 64-d vector yield NULL > 0 = false → weight 0,
      // same as the twin's CASE on an out-of-range list index
      val bucket = (1 to bits).map(i =>
        when(element_at(col("e"), i) > 0, lit(1L << (bits - i))).otherwise(lit(0L)))
        .reduce(_ + _)
      base.unionAll(mut)
        .withColumn("nrm", norm2(col("e")))
        .withColumn("bucket", bucket)
        .persist() // both sides of both self-joins; avoids recomputing norms
    }

  private val embedDup: Q = (s, d) => {
    val all = bucketed(s, d, autoBits(s, d))
    all.as("a").join(all.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dotNative(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= 0.98)
  }

  // ---- multi-probe sign-LSH: probe own bucket + all 8 Hamming-1 ----
  // The standard recall fix for sign-LSH blocking: a vector near a
  // hyperplane can flip one sign bit under a tiny perturbation, so the
  // pair lands in sibling buckets and single-probe misses it. Each
  // vector probes its own bucket and the 8 one-bit-flipped neighbors —
  // STILL an equi-join (explode to 9 (vec, probe_bucket) rows, shuffle
  // on the bucket key), cost ×9 candidates, never n². A pair at
  // Hamming ≤ 1 is found exactly once from the lower-id side (the probe
  // relation is symmetric), so no post-join distinct is needed.
  /** Multi-probe pair generation at an arbitrary bit width (the scale
    * probe in SCALE.md measures bits=8 vs bits=12 at 10× data; declared
    * query = bits 8 for oracle parity).
    */
  private[graft] def embedPairsMp(s: SparkSession, d: String, bits: Int): DataFrame = {
    val all = bucketed(s, d, bits)
    val masks = 0L +: (0 until bits).map(1L << _)
    val probes = all.select(col("vec_id"), col("e"), col("nrm"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("pbucket"))
    probes.as("a").join(all.as("b"),
        col("a.pbucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dotNative(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= 0.98)
  }

  private val embedDupMp: Q = (s, d) => embedPairsMp(s, d, autoBits(s, d))

  // ---- semantic dedup within coarse-quantizer clusters (SemDeDup) ----
  // The cluster-then-compare shape of Abbas et al. 2023 ("SemDeDup"):
  // assign every vector to its IVF coarse-quantizer cluster, then score
  // pairs ONLY within a cluster — pair work is Σ|list|² with the list
  // length held constant by AnnIvf.autoNList (~500), i.e. LINEAR in the
  // corpus, never n², and each list's pair join is an equi-join on the
  // cluster id Catalyst hash-partitions. Same planted near-dup corpus as
  // q_dedup_embed (vec_id+100000, dim-1 perturbed). A planted pair whose
  // members straddle a cluster boundary is MISSED by design — SemDeDup's
  // documented recall trade vs the LSH multiprobe family; the spec pins
  // the measured recall. Per near-dup set the LOWEST id is the keeper
  // (min keep_cand per drop_id, the q_dedup_exact convention).
  //
  // Oracle: the q_ann_ivf centroid-export replay — cluster assignment is
  // the exact replayable rule (index-order squared L2, strict <, tie →
  // lowest cluster), everything downstream is plain arithmetic.
  private val SemThreshold = 0.98

  private val semantic: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val index = VectorQueries.ivfIndex(s, d)
    val cents: Array[(Int, Array[Double])] = index.centroids
      .select(col("cluster").cast("int"), col("centroid"))
      .as[(Int, Seq[Double])].collect()
      .map { case (c, v) => (c, v.toArray) }
      .sortBy(_._1)
    val mut = Tables.embeddings(s, d)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
      .select((col("vec_id") + 100000L).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.05)), slice(col("e"), 2, 63)).as("e"))
    // base rows reuse the index's own assignment (identical rule), only
    // the mutated twin pays the assignment pass; persisted — both sides
    // of the within-cluster self-join
    val corpus = graft.Scratch.persist(
      index.assigned.select("vec_id", "e", "cluster")
        .unionAll(graft.operators.AnnIvf.assignNearestArr(mut, "vec_id", "e", cents)
          .select("vec_id", "e", "cluster"))
        .withColumn("nrm", norm2(col("e"))))
    corpus.as("a").join(corpus.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster").cast("long").as("cluster"),
        col("a.vec_id").as("keep_cand"), col("b.vec_id").as("drop_id"),
        round(dotNative(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= SemThreshold)
      .withColumn("rk", row_number().over(
        Window.partitionBy("drop_id").orderBy(col("keep_cand"))))
      .filter(col("rk") === 1)
      .select(col("drop_id"), col("keep_cand").as("keep_id"), col("cluster"), col("cos"))
  }

  // ---- chunk-level (paragraph) dedup / boilerplate-span mining ----
  // C4-style sub-document dedup: documents are chunked (the O-31
  // chunker), each span hashed, and spans whose hash recurs across the
  // corpus are flagged — the operator that catches repeated boilerplate
  // a whole-document hash never sees. Planted signal (word-soup corpus
  // has none): a fixed 64-char boilerplate header on every doc (lands
  // exactly on the first chunk boundary) + exact copies of every 5th
  // doc. Scale shape: chunk → hash → ONE groupBy on the hash (map-side
  // combined) → equi-join back; per-doc stats never leave the doc's
  // partition group. No n² anywhere.
  private val BoilerplateHdr =
    "=== BOILERPLATE: subscribe to our newsletter for daily updates ="

  private val chunkDup: Q = (s, d) => {
    val withHdr = concat(lit(BoilerplateHdr), col("text")).as("text")
    val docs = Tables.documents(s, d).select(col("doc_id"), withHdr)
    val copies = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), withHdr)
    // scratch-persisted: the hashed-chunk table feeds the global hash
    // counts AND the join back; its Generate lineage is the expensive part
    val chunks = graft.Scratch.persist(
      Chunker.chunkChars(docs.unionAll(copies), "text", 64, Seq("doc_id"))
        .select(col("doc_id"), md5(col("chunk")).as("h")))
    val cnt = chunks.groupBy("h").agg(count(lit(1)).as("c"))
    chunks.join(cnt, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_bp", expr("(n_dup * 10000) DIV n_chunks"))
  }

  // ---- content-defined chunk dedup (shift-robust) ----
  // The CDC upgrade of q_dedup_chunks: chunk boundaries come from a
  // rolling hash of the last 8 code points (native codegen'd
  // `cdc_chunks` expression, CdcExpressions.scala), so an INSERTION
  // near the start of a copy shifts only ~8 characters of boundaries
  // and every later boundary re-synchronizes — fixed-size chunking
  // shifts every boundary and finds nothing. Planted signal: every 5th
  // doc re-enters with a deterministic 'p<doc_id> ' prefix
  // (doc_id+400000) — exactly the mutation fixed chunking is blind to;
  // CurationOpsSpec pins CDC >> fixed on this corpus. Scale shape
  // identical to q_dedup_chunks: chunk → hash → ONE map-side-combined
  // groupBy → equi-join back; chunking itself is stateless per row.
  private val CdcD = 64

  private val cdcDup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val copies = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 400000L).as("doc_id"),
        concat(lit("p"), col("doc_id").cast("string"), lit(" "), col("text")).as("text"))
    val chunks = graft.Scratch.persist(
      docs.unionAll(copies)
        .select(col("doc_id"),
          explode(call_function("cdc_chunks", col("text"), lit(CdcD))).as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("h")))
    val cnt = chunks.groupBy("h").agg(count(lit(1)).as("c"))
    chunks.join(cnt, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_bp", expr("(n_dup * 10000) DIV n_chunks"))
  }

  // ---- exact substring-duplication spans (Lee et al. 2022 shape) ----
  // The ExactSubstr operator of "Deduplicating Training Data Makes
  // Language Models Better": find the maximal token RANGES of each doc
  // whose content recurs anywhere in the corpus — catches partial
  // copies (quoted excerpts, syndicated paragraphs) that whole-doc and
  // fixed-chunk hashing both miss. Published MapReduce formulation, not
  // a suffix array: slide a k-token window at stride 1, count each
  // window's global occurrences (ONE map-side-combined groupBy), keep
  // positions whose window recurs, and merge overlapping windows into
  // maximal spans with a per-doc gaps-and-islands pass (partitioned
  // window). No n² anywhere; the shuffle key is the window text —
  // production would hash it to 64 bits (collisions tolerable), the
  // oracle keeps strings so no hash crosses engines. Planted signal: a
  // 31-token mid-doc excerpt of every long-enough doc re-enters as its
  // own doc (doc_id+300000) — originals then carry one dup span over
  // tokens ~10..40, excerpts are fully duplicated, and span bounds are
  // non-trivial. Window construction is posexplode + lead over a
  // partitioned window, NOT transform+slice over an aliased split —
  // CollapseProject inlines the alias and re-runs split per position
  // (the documented HOF quadratic trap).
  private val SpanK = 8

  private[graft] def spanCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val exc = Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 41)
      .select((col("doc_id") + 300000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 11, 31), " ").as("text"))
    base.unionAll(exc)
  }

  private val dupSpans: Q = (s, d) => spanStats(spanCorpus(s, d))

  /** (doc_id, pos, tok) for a (doc_id, text) corpus — 0-based pos. */
  private def docTokens(c: DataFrame): DataFrame =
    c.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  /** Maximal duplicated ranges (doc_id, sp_start, sp_end) in window-
    * start coordinates — the shared core of q_dedup_spans and the
    * removal query.
    */
  private[graft] def dupSpanRanges(toks: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // all k-1 leads share one WindowExec (same spec); trailing positions
    // (last lead null) have no full window and drop out
    val withLeads = toks.select(
      col("doc_id") +: col("pos") +: col("tok") +:
        (1 until SpanK).map(i => lead(col("tok"), i).over(w).as(s"t$i")): _*)
    val sh = withLeads.filter(col(s"t${SpanK - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          col("tok") +: (1 until SpanK).map(i => col(s"t$i")): _*).as("sh"))
    // scratch-persisted: feeds the global count agg AND the join back
    val shP = graft.Scratch.persist(sh)
    val cnt = shP.groupBy("sh").agg(count(lit(1)).as("c"))
    val dup = shP.join(cnt.filter(col("c") > 1), Seq("sh"))
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: windows at p1 < p2 overlap/touch iff p2 <= p1+k
    val flagged = dup.withColumn("newgrp",
      when(col("pos") - lag(col("pos"), 1).over(w) <= SpanK, 0L).otherwise(1L))
    val grp = flagged.withColumn("grp",
      sum(col("newgrp")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grp.groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("sp_start"),
        (max(col("pos")) + lit(SpanK - 1)).as("sp_end"))
      .select("doc_id", "sp_start", "sp_end")
  }

  /** The span machinery on any (doc_id, text) corpus — factored out so
    * the multi-span merge cases (disjoint duplicated regions, touching
    * windows) can be pinned on a controlled corpus in CurationOpsSpec.
    */
  private[graft] def spanStats(c: DataFrame): DataFrame = {
    val spans = dupSpanRanges(docTokens(c))
    val ntok = c.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("sp_end") - col("sp_start") + 1).as("dup_tokens"))
      .join(ntok, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("n_tokens"), expr("(dup_tokens * 10000) DIV n_tokens").as("dup_bp"))
  }

  // ---- the removal half of ExactSubstr: excise the duplicated spans ----
  // Lee et al. don't just FIND duplicated substrings — they delete
  // them. Kept text = tokens not covered by any span, in original
  // order. Coverage explodes each span into its positions (bounded by
  // doc length), kept tokens come from a LEFT ANTI join on (doc_id,
  // pos), and per-doc reconstruction collects (pos, tok) structs,
  // array_sorts them (struct order = field order, pos first — NEVER
  // raw collect_list order, which is shuffle-dependent), and re-joins.
  // Docs whose every token is covered come back via the corpus left
  // join with n_kept = 0 and md5('') — full removal, not absence.
  private[graft] def spanRemoval(c: DataFrame): DataFrame = {
    // (r19 A/B: persisting the token table pre-partitioned on doc_id
    // did NOT remove the downstream doc_id exchanges here — the
    // InMemoryTableScan does not surface the cached repartition's
    // partitioning to the window/agg consumers in this plan, so the
    // extra shuffle was pure overhead. Reverted; plans/r19 has both.)
    val toks = graft.Scratch.persist(docTokens(c))
    val covered = dupSpanRanges(toks)
      .select(col("doc_id"),
        explode(sequence(col("sp_start"), col("sp_end"))).as("pos"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        collect_list(struct(col("pos"), col("tok"))).as("lst"))
      .select(col("doc_id"), col("n_kept"),
        expr("md5(array_join(transform(array_sort(lst), x -> x.tok), ' '))")
          .as("clean_hash"))
    c.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
  }

  private val dupSpansRemoval: Q = (s, d) => spanRemoval(spanCorpus(s, d))

  // ---- LSH parameter eval: candidate quality vs exact-Jaccard truth ----
  // The tuning loop every LSH deployment runs: how good are the
  // MinHash band-bucket candidates against ground truth? Truth = the
  // exact df-capped Jaccard pairs at >= 0.5 (the q_dedup_jaccard
  // definition); candidates = the q_dedup_minhash band join. One
  // full-outer join of two already-proven pair generators, then exact
  // integer precision/recall in basis points — the metric itself is
  // the hash-checked result (the q_ann_recall pattern applied to
  // dedup). Scale: both legs are the bounded equi-join shapes proven
  // at 10×/100× in SCALE.md; the eval adds one join on pair keys.
  private val lshEval: Q = (s, d) => {
    // ONE persisted shingle generation feeds BOTH legs. Measured ~flat
    // at sf0.1 (2.2 s either way — the native token_shingles kernel is
    // cheap; the legs' joins dominate), kept because it is the right
    // shape: at cluster scale the shingle table is a real scan+explode
    // whose duplication would double the dominant I/O.
    val all = graft.Scratch.persist(shingles(corpus(s, d)))
    val truth = jaccardPairs(all)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val cand = bandPairs(graft.Scratch.persist(minhashBandsFromShingles(all)))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(coalesce(col("t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("c"), lit(0L))).as("n_cand"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L).otherwise(0L)).as("tp"))
      .select(col("n_truth"), col("n_cand"), col("tp"),
        expr("(tp * 10000) DIV greatest(n_cand, 1)").as("precision_bp"),
        expr("(tp * 10000) DIV greatest(n_truth, 1)").as("recall_bp"))
  }

  // ---- duplicate-GROUP resolution: pairs → components → keeper ----
  // Pairwise dedup output (exact/minhash/jaccard/embed above) is only
  // half the operator a training-data pipeline needs: keep-one-per-group
  // requires the transitive closure of the pair relation (A~B, B~C ⇒
  // {A,B,C} is ONE group with one keeper). That is connected components —
  // run with GraphX Pregel, the scale-correct form (iterative label
  // propagation over partitioned edges; nothing driver-side). The
  // declared query runs CC over a deterministic chain relation
  // (doc_id → doc_id+1 within runs of 10, ~10 Pregel supersteps) so the
  // DuckDB oracle can replay the closure with a recursive CTE; in
  // production the edge input is any pair generator above.
  /** The deterministic chain relation q_dedup_cc closes over. */
  private def ccChainEdges(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    docs.filter(pmod(col("doc_id"), lit(10)) =!= 9)
      .select(col("doc_id").as("src"), (col("doc_id") + 1L).as("dst"))
      .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  // data-sized Pregel width: the edge RDD otherwise inherits the 32-way
  // join shuffle layout and every superstep pays empty tasks. Anchored
  // on the SCAN (r19 — SizedRdd doc): the semi-join's own size estimate
  // is inflated and pinned the width at the 32 cap. The chain edges are
  // a cheap projection, so their coalesce stays narrow.
  private val ccGroups: Q = (s, d) =>
    graft.operators.SizedRdd.connectedComponents(
      Tables.documents(s, d).select(col("doc_id")), ccChainEdges(s, d),
      shuffleEdges = false)

  // ---- the dedup ENDGAME on the real pair generator ----
  // q_dedup_cc proves the closure machinery on deterministic chain
  // edges; this runs it on the actual MinHash-LSH candidate pairs:
  // pairs → undirected closure → keeper = min doc_id per group — the
  // keep-one-per-group decision a training-data pipeline actually
  // ships. Spark side is GraphX connected components over the band-join
  // output (iterative label propagation, nothing driver-side); the
  // oracle replays the SAME pair SQL through a recursive CTE, so the
  // whole pipeline pairs-included is hash-checked.
  // Sized from Catalyst's estimate of the CORPUS scan — NOT a count
  // (which would re-run the whole band-join pair generation), and NOT
  // the pair join itself (whose join-cardinality estimate is garbage and
  // pinned the width at the 32 cap — r19, SizedRdd doc). The edge
  // coalesce must SHUFFLE: a narrow coalesce would pull the expensive
  // band-join pair generation itself down to p tasks (floor 2) whenever
  // Catalyst's size estimate undershoots — the join stays at full
  // shuffle width and only the small pair rows move.
  private val minhashGroups: Q = (s, d) => {
    val pairs = minhash(s, d)
    graft.operators.SizedRdd.connectedComponents(
      corpus(s, d).select(col("doc_id")), pairs, shuffleEdges = true)
  }

  // ---- winnowing fingerprints (Schleimer et al. 2003, SIGMOD) ----
  // The local-minimum fingerprint selection MOSS uses: hash every
  // k-token gram, slide a w-gram window, select each window's minimum
  // hash (tie → RIGHTMOST position — the paper's robust-winnowing rule),
  // and pair documents sharing ≥2 selected fingerprints. Guarantees a
  // match for any shared run of ≥ w+k−1 tokens while keeping ~1/w of
  // the grams — the published density/guarantee trade the plain
  // min-shingle fingerprint (q_fingerprint) can't make.
  //
  // Determinism trick: hash and tie-break are ONE BIGINT —
  // code = h36·2²⁴ + (2²⁴−1−pos), so min(code) IS (min hash, rightmost
  // position) and both engines take a plain integer window MIN (h36 =
  // first 9 md5 hex chars; max code 2⁶⁰ < 2⁶³, positions < 16.7M grams
  // per doc — a ≥67 MB document, outside any corpus row this engine
  // reads). Scale: the only windows are per-doc (bounded by doc
  // length), fingerprints per doc ≈ grams/w, and the pair join is the
  // same df-capped inverted index as q_dedup_jaccard.
  private val WinnowK = 3
  private val WinnowW = 4
  private val WinnowDfCap = 10L
  private val WinnowShift = 16777216L // 2^24 position field

  private val winnow: Q = (s, d) => {
    val grams = corpus(s, d).select(col("doc_id"),
      posexplode(call_function("token_shingles_all", col("text"), lit(WinnowK))))
      .toDF("doc_id", "pos", "gram")
    val coded = grams.select(col("doc_id"), col("pos"),
      (conv(substring(md5(col("gram")), 1, 9), 16, 10).cast("long") * WinnowShift
        + (lit(WinnowShift - 1) - col("pos"))).as("code"))
    val wp = Window.partitionBy("doc_id")
    // both windows share the doc_id exchange; the frame min is the
    // window-of-w-grams selection, the partition count bounds the last
    // legal window start (short docs keep pos 0 = min of what exists)
    val sel = coded
      .withColumn("wmin", min(col("code"))
        .over(wp.orderBy("pos").rowsBetween(0, WinnowW - 1)))
      .withColumn("n", count(lit(1)).over(wp))
      .filter(col("pos") <= greatest(col("n") - WinnowW, lit(0L)))
      .select(col("doc_id"), expr(s"wmin DIV $WinnowShift").as("fp"))
      .distinct()
    // scratch-persisted: df stats + both legs of the pair join
    val fps = graft.Scratch.persist(sel)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowDfCap).select("fp")
    val kept = fps.join(rare, "fp")
    kept.as("a").join(kept.as("b"),
      col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
  }

  // 9-hex-char md5 prefix as an integer (the simhash per-digit idiom,
  // horner-ed across 9 digits)
  private def hex9Sql(h: String): String =
    (0 until 9).map { j =>
      s"(instr('0123456789abcdef', substr($h, ${j + 1}, 1)) - 1) * ${1L << (4 * (8 - j))}"
    }.mkString("(", " + ", ")")

  private val winnowSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $corpusSql),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         ${hex9Sql(s"md5(array_to_string(toks[i:i+${WinnowK - 1}], ' '))")}
       |           * $WinnowShift + (${WinnowShift - 1} - (i - 1)) AS code
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${WinnowK - 1})) AS i
       |        FROM t WHERE len(toks) >= $WinnowK)),
       |sel AS (
       |  SELECT DISTINCT doc_id, wmin // $WinnowShift AS fp FROM (
       |    SELECT doc_id, pos,
       |           min(code) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wmin,
       |           count(*) OVER (PARTITION BY doc_id) AS n
       |    FROM g) WHERE pos <= greatest(n - $WinnowW, 0)),
       |rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= $WinnowDfCap),
       |k AS (SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
       |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2""".stripMargin

  // ---- tf-idf weighted cosine similarity (CCNet-style lexical) ----
  // The weighted complement to binary n-gram Jaccard, composed the way
  // production near-dup pipelines actually run: CANDIDATES from the
  // proven MinHash-LSH band join (a rare-UNIGRAM index finds nothing —
  // unigram df is high everywhere; shingle-based LSH is the published
  // candidate generator), then each candidate pair VERIFIED by the
  // weighted cosine of integer tf-idf vectors — exact-integer
  // dot/norms, ONE final IEEE expression (the q_dedup_embed/NSW cosine
  // rule: integer sums → dot/sqrt(na·nb) → round 6 → +0.0).
  //
  // Both weight factors are CAPPED (tf at 100, idf_c at 1e6), so
  // w ≤ 1e8 independent of corpus size — wa·wb ≤ 1e16 always fits
  // BIGINT and only the per-pair SUMS widen through DECIMAL(38,0)/
  // HUGEINT (Σ over up to a doc's distinct tokens reaches 1e20).
  // tf saturation is standard lexical-similarity practice (BM25's tf
  // ceiling); the idf cap bounds the rarest-token weight the same way
  // the BM25 idf floor bounds the commonest.
  private val TfIdfCosMin = 0.90

  /** The weighted term table (doc_id, tok, w), scratch-persisted — ONE
    * exchange for the whole pipeline (the q_lm_score shape): partitioning
    * the raw text on doc_id makes the (doc_id, tok) groupBy, the ssq
    * groupBy(doc_id) and the scoring join's doc_a probe all
    * exchange-free — only the vocab-sized df aggregate still shuffles
    * (and AQE broadcasts it back).
    */
  private def tfidfTerms(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val nd = c.agg(count(lit(1)).as("nd"))
    val terms0 = c.repartition(col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = terms0.groupBy("tok").agg(count(lit(1)).as("df"))
    graft.Scratch.persist(
      terms0.join(df, Seq("tok")).crossJoin(broadcast(nd))
        .select(col("doc_id"), col("tok"),
          expr("least(tf, 100) * least((nd * 100) DIV df, 1000000)").as("w")))
  }

  private val tfidfCos: Q = (s, d) => {
    // (doc_id, tok, w) persisted — consumed by the norms and both legs
    // of the candidate-pair scoring join
    val terms = tfidfTerms(s, d)
    val ssq = terms.groupBy("doc_id")
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("ssq"))
    // unpersisted candidate pairs (r19): consumed ONCE by the scoring
    // join, and without the persist's blocking wave the band join
    // overlaps the independent term pipeline — see minhashUnpersisted
    val cand = minhashUnpersisted(s, d)
    val dot = cand
      .join(terms.select(col("doc_id").as("doc_a"), col("tok"), col("w").as("wa")),
        Seq("doc_a"))
      .join(terms.select(col("doc_id").as("doc_b"), col("tok"), col("w").as("wb")),
        Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(expr("CAST(wa AS DECIMAL(38,0)) * wb")).as("dot"))
    dot.join(ssq.select(col("doc_id").as("doc_a"), col("ssq").as("sa")), Seq("doc_a"))
      .join(ssq.select(col("doc_id").as("doc_b"), col("ssq").as("sb")), Seq("doc_b"))
      .withColumn("cos", expr(
        "round(CAST(dot AS DOUBLE) / sqrt(CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6) + 0.0"))
      .filter(col("cos") >= TfIdfCosMin)
      .select("doc_a", "doc_b", "cos")
  }

  // def, not val: references minhashSql, declared LATER in this object —
  // a val would capture null at initialization order
  private def tfidfCosSql: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $corpusSql)
       |  GROUP BY doc_id, tok),
       |dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t0 GROUP BY tok),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM $corpusSql),
       |terms AS MATERIALIZED (
       |  SELECT doc_id, tok,
       |         least(tf, 100) * least((nd * 100) // df, 1000000) AS w
       |  FROM t0 JOIN dfx USING (tok) CROSS JOIN nd),
       |ssq AS (SELECT doc_id, CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS ssq
       |        FROM terms GROUP BY doc_id),
       |cand AS MATERIALIZED ($minhashSql),
       |ca AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b, t.tok, t.w AS wa
       |  FROM cand c JOIN terms t ON t.doc_id = c.doc_a),
       |dot AS (
       |  SELECT ca.doc_a, ca.doc_b, CAST(sum(CAST(ca.wa AS HUGEINT) * tb.w) AS HUGEINT) AS dot
       |  FROM ca
       |  JOIN terms tb ON tb.doc_id = ca.doc_b AND tb.tok = ca.tok
       |  GROUP BY ca.doc_a, ca.doc_b)
       |SELECT doc_a, doc_b, cos FROM (
       |  SELECT d.doc_a, d.doc_b,
       |         round(CAST(d.dot AS DOUBLE) / sqrt(CAST(sa.ssq AS DOUBLE) * CAST(sb.ssq AS DOUBLE)), 6) + 0.0 AS cos
       |  FROM dot d
       |  JOIN ssq sa ON sa.doc_id = d.doc_a
       |  JOIN ssq sb ON sb.doc_id = d.doc_b)
       |WHERE cos >= $TfIdfCosMin""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_doc_sim_tfidf" -> tfidfCos,
    "q_dedup_winnow" -> winnow,
    "q_dedup_minhash_groups" -> minhashGroups,
    "q_dedup_exact" -> exact,
    "q_dedup_minhash" -> minhash,
    "q_dedup_delta" -> deltaDedup,
    "q_dedup_simhash" -> simhash,
    "q_dedup_jaccard" -> jaccard,
    "q_dedup_embed" -> embedDup,
    "q_dedup_embed_mp" -> embedDupMp,
    "q_dedup_semantic" -> semantic,
    "q_dedup_cc" -> ccGroups,
    "q_dedup_chunks" -> chunkDup,
    "q_dedup_spans" -> dupSpans,
    "q_dedup_spans_removal" -> dupSpansRemoval,
    "q_dedup_cdc" -> cdcDup,
    "q_lsh_eval" -> lshEval)

  private[graft] val jaccardSql: String =
    s"""WITH allsh AS (SELECT * FROM $shinglesSql),
       |sh AS (SELECT a.* FROM allsh a
       |       JOIN (SELECT sh FROM allsh GROUP BY sh HAVING count(*) <= $DfCap) r USING (sh)),
       |cnt AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, (shared*10000) // (na + nb - shared) AS jac_bp
       |FROM (SELECT s.doc_a, s.doc_b, s.shared, ca.nsh AS na, cb.nsh AS nb
       |      FROM shared s JOIN cnt ca ON s.doc_a = ca.doc_id
       |                    JOIN cnt cb ON s.doc_b = cb.doc_id)
       |WHERE (shared*10000) // (na + nb - shared) >= 5000""".stripMargin

  // q_dedup_delta twin: the same sig/band derivation as minhashSql,
  // parameterized over the source corpus. csig/dsig are each consumed
  // by a 4-way band unpivot — MATERIALIZED per the house DuckDB
  // CTE-reinlining rule (an inlined sig recomputes the shingle
  // aggregation once per band). defs, not vals: twin SQL composed
  // across the file (the val-order init trap, r15 notes).
  private def shinglesSqlOf(src: String): String =
    s"""(SELECT doc_id,
       |        unnest(list_distinct(list_transform(
       |          generate_series(1, greatest(len(string_split(text, ' '))-2, 1)),
       |          i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
       | FROM $src)""".stripMargin

  private def sigSqlOf(shSrc: String): String = {
    val mins = (0 to 7).map(k => s"min(substr(md5(sh), ${3 * k + 1}, 8)) AS mh$k").mkString(", ")
    s"SELECT doc_id, $mins FROM $shSrc s GROUP BY doc_id"
  }

  private def bandsSqlFromSig(sig: String): String =
    (0 to 3).map(b =>
      s"SELECT doc_id, CAST($b AS BIGINT) AS band, " +
        s"md5(least(mh${2 * b}, mh${2 * b + 1}) || '|' || greatest(mh${2 * b}, mh${2 * b + 1})) AS bkey FROM $sig")
      .mkString(" UNION ALL ")

  private def deltaSrcSql: String =
    """(SELECT doc_id+400000 AS doc_id, substr(text, instr(text, ' ')+1) AS text
      |   FROM documents WHERE doc_id % 2 = 0
      | UNION ALL
      | SELECT doc_id+400000 AS doc_id,
      |        array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
      |   FROM documents WHERE doc_id % 2 = 1)""".stripMargin

  private def deltaSql: String =
    s"""WITH csig AS MATERIALIZED (${sigSqlOf(shinglesSqlOf("documents"))}),
       |dsig AS MATERIALIZED (${sigSqlOf(shinglesSqlOf(deltaSrcSql))}),
       |cb AS (${bandsSqlFromSig("csig")}),
       |db AS (${bandsSqlFromSig("dsig")}),
       |m AS (
       |  SELECT n.doc_id AS delta_id, CAST(min(c.doc_id) AS BIGINT) AS first_match,
       |         CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_matches
       |  FROM db n JOIN cb c ON c.band = n.band AND c.bkey = n.bkey
       |  GROUP BY n.doc_id)
       |SELECT d.doc_id AS delta_id,
       |       coalesce(m.first_match, -1) AS first_match,
       |       coalesce(m.n_matches, 0) AS n_matches
       |FROM (SELECT doc_id FROM $deltaSrcSql dd) d LEFT JOIN m ON m.delta_id = d.doc_id""".stripMargin

  // built ON the shared sig/band helpers (one copy of the signature
  // derivation — the delta twin composes the same defs, so the two can
  // never drift character-by-character). Parameterized over the source
  // corpus since r17: q_link_predict's enriched three-variant corpus
  // composes the SAME pipeline.
  private[graft] def minhashSqlOver(src: String): String =
    s"""WITH sig AS MATERIALIZED (
       |  -- MATERIALIZED (r17 review): the band self-join reads `bands`
       |  -- twice and the 4-way band unpivot reads `sig` four times —
       |  -- inlined, DuckDB would re-run the shingle+min-agg pipeline
       |  -- up to 8× (the r15 CTE-reinlining trap)
       |  ${sigSqlOf(shinglesSqlOf(src))}),
       |bands AS MATERIALIZED (${bandsSqlFromSig("sig")})
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin

  private[graft] val minhashSql: String = minhashSqlOver(corpusSql)

  val oracle: Map[String, String] = Map(
    "q_doc_sim_tfidf" -> tfidfCosSql,
    "q_dedup_winnow" -> winnowSql,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id+200000 AS doc_id, text FROM documents)
        |GROUP BY md5(text)""".stripMargin,
    "q_dedup_minhash" -> minhashSql,
    "q_dedup_delta" -> deltaSql,
    "q_dedup_minhash_groups" ->
      s"""WITH RECURSIVE pairs AS ($minhashSql),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM $corpusSql
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS keeper
         |FROM reach GROUP BY a""".stripMargin,
    "q_dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |bits AS (
        |  SELECT doc_id, j,
        |         CAST(sum(CASE WHEN (instr('0123456789abcdef', substr(md5(tok), CAST(j+1 AS INT), 1)) - 1) % 2 = 1
        |                       THEN 1 ELSE -1 END) AS BIGINT) AS s
        |  FROM t CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)
        |  GROUP BY doc_id, j)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,
    "q_dedup_jaccard" -> jaccardSql,
    "q_dedup_embed" -> {
      val e = s"(SELECT vec_id, ${toDoubleArrSql("embedding")} AS e FROM embeddings)"
      // occupancy-scaled bit count (autoBits twin) + dynamic per-position
      // weights via a list comprehension bounded by the computed `bits`
      val bucket = "list_sum([CASE WHEN e[i] > 0 THEN (1::BIGINT << (bits - i)) " +
        "ELSE 0 END FOR i IN generate_series(1, bits)])"
      s"""WITH nb AS ($autoBitsSql),
         |base AS (
         |  SELECT vec_id, e FROM $e
         |  UNION ALL
         |  SELECT vec_id+100000 AS vec_id, list_concat([e[1]+0.05], e[2:64]) AS e FROM $e),
         |bk AS (
         |  SELECT vec_id, e, ${norm2Sql("e")} AS nrm, $bucket AS bucket
         |  FROM base CROSS JOIN nb)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         round(${dotSql("a.e", "b.e")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE cos >= 0.98""".stripMargin
    },
    "q_dedup_embed_mp" -> {
      val e = s"(SELECT vec_id, ${toDoubleArrSql("embedding")} AS e FROM embeddings)"
      val bucket = "list_sum([CASE WHEN e[i] > 0 THEN (1::BIGINT << (bits - i)) " +
        "ELSE 0 END FOR i IN generate_series(1, bits)])"
      // probe masks 0 ∪ {2^j, j < bits}, same dynamic width
      val masks = "list_concat([0::BIGINT], [1::BIGINT << j FOR j IN generate_series(0, bits-1)])"
      s"""WITH nb AS ($autoBitsSql),
         |base AS (
         |  SELECT vec_id, e FROM $e
         |  UNION ALL
         |  SELECT vec_id+100000 AS vec_id, list_concat([e[1]+0.05], e[2:64]) AS e FROM $e),
         |bk AS (
         |  SELECT vec_id, e, ${norm2Sql("e")} AS nrm, $bucket AS bucket
         |  FROM base CROSS JOIN nb),
         |probes AS (
         |  SELECT vec_id, e, nrm, unnest([xor(bucket, m) FOR m IN $masks]) AS pbucket
         |  FROM bk CROSS JOIN nb)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         round(${dotSql("a.e", "b.e")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM probes a JOIN bk b ON a.pbucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE cos >= 0.98""".stripMargin
    },
    "q_dedup_semantic" -> {
      val e = s"(SELECT vec_id, ${toDoubleArrSql("embedding")} AS e FROM embeddings)"
      s"""WITH cents AS (SELECT cluster, centroid FROM '${VectorQueries.ivfExportPath}/*.parquet'),
         |corpus AS (
         |  SELECT vec_id, e FROM $e
         |  UNION ALL
         |  SELECT vec_id+100000 AS vec_id, list_concat([e[1]+0.05], e[2:64]) AS e FROM $e),
         |assigned AS (
         |  SELECT vec_id, e, cluster, ${norm2Sql("e")} AS nrm FROM (
         |    SELECT a.vec_id, a.e, c.cluster,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${sqDistanceSql("a.e", "c.centroid")}, c.cluster) AS ark
         |    FROM corpus a CROSS JOIN cents c)
         |  WHERE ark = 1),
         |pairs AS (
         |  SELECT CAST(a.cluster AS BIGINT) AS cluster,
         |         a.vec_id AS keep_cand, b.vec_id AS drop_id,
         |         round(${dotSql("a.e", "b.e")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |SELECT drop_id, keep_cand AS keep_id, cluster, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY drop_id ORDER BY keep_cand) AS rk
         |  FROM pairs WHERE cos >= $SemThreshold)
         |WHERE rk = 1""".stripMargin
    },
    "q_dedup_chunks" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, '$BoilerplateHdr' || text AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id+200000 AS doc_id, '$BoilerplateHdr' || text AS text
         |  FROM documents WHERE doc_id % 5 = 0),
         |chunks AS (
         |  SELECT doc_id, md5(substr(text, CAST(chunk_id*64+1 AS INT), 64)) AS h FROM (
         |    SELECT doc_id, text,
         |           unnest(generate_series(0, CAST(greatest(ceil(length(text)/64.0), 1) AS BIGINT)-1)) AS chunk_id
         |    FROM corpus)),
         |cnt AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM chunks GROUP BY h)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       (CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         |         // CAST(count(*) AS BIGINT) AS dup_bp
         |FROM chunks JOIN cnt USING (h)
         |GROUP BY doc_id""".stripMargin,
    "q_dedup_spans" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id+300000 AS doc_id,
        |         array_to_string(string_split(text, ' ')[11:41], ' ') AS text
        |  FROM documents WHERE len(string_split(text, ' ')) >= 41),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        |p AS (SELECT doc_id, toks,
        |             unnest(generate_series(1, len(toks)-${SpanK - 1})) AS pos FROM tk),
        |sh AS (SELECT doc_id, pos,
        |              array_to_string(toks[pos:pos+${SpanK - 1}], ' ') AS sh FROM p),
        |cnt AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
        |dup AS (SELECT doc_id, pos FROM sh JOIN cnt USING (sh) WHERE c > 1),
        |flg AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $SpanK
        |             THEN 0 ELSE 1 END AS newgrp FROM dup),
        |grp AS (SELECT doc_id, pos,
        |        sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM flg),
        |spans AS (SELECT doc_id, grp, min(pos) AS sp_start, max(pos)+${SpanK - 1} AS sp_end
        |          FROM grp GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(sp_end - sp_start + 1) AS BIGINT) AS dup_tokens
        |        FROM spans GROUP BY doc_id),
        |nt AS (SELECT doc_id,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |       FROM corpus)
        |SELECT a.doc_id, n_spans, dup_tokens, n_tokens,
        |       (dup_tokens * 10000) // n_tokens AS dup_bp
        |FROM agg a JOIN nt USING (doc_id)""".stripMargin,
    "q_lsh_eval" ->
      s"""WITH truth AS (SELECT doc_a, doc_b FROM ($jaccardSql) jt),
         |cand AS (SELECT doc_a, doc_b FROM ($minhashSql) ct),
         |j AS (SELECT t.doc_a AS ta, c.doc_a AS ca
         |      FROM truth t FULL JOIN cand c
         |        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         |SELECT CAST(sum(CASE WHEN ta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         |       CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |       CAST(sum(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |       (CAST(sum(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         |         // greatest(CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 1) AS precision_bp,
         |       (CAST(sum(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         |         // greatest(CAST(sum(CASE WHEN ta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 1) AS recall_bp
         |FROM j""".stripMargin,
    // the identical integer polynomial, unrolled with literal powers of
    // 31 (weight 1 on the NEWEST code point, 31^7 on the oldest of the
    // 8-wide window) — corpus is printable ASCII so DuckDB's char
    // positions equal code-point positions
    "q_dedup_cdc" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  -- mutation computed in an inner subquery so the prefix's
        |  -- doc_id reference can never bind to the +400000 alias
        |  -- (ADVICE r16 #1 class)
        |  SELECT base_id + 400000 AS doc_id, mut AS text FROM (
        |    SELECT doc_id AS base_id,
        |           'p' || CAST(doc_id AS VARCHAR) || ' ' || text AS mut
        |    FROM documents WHERE doc_id % 5 = 0)),
        |b AS (SELECT doc_id, text,
        |        [i FOR i IN generate_series(8, length(text))
        |           IF (unicode(text[i])::BIGINT + unicode(text[i-1])*31::BIGINT +
        |               unicode(text[i-2])*961::BIGINT + unicode(text[i-3])*29791::BIGINT +
        |               unicode(text[i-4])*923521::BIGINT + unicode(text[i-5])*28629151::BIGINT +
        |               unicode(text[i-6])*887503681::BIGINT +
        |               unicode(text[i-7])*27512614111) % $CdcD = ${CdcD - 1}] AS bounds
        |      FROM corpus),
        |st AS (SELECT doc_id, text,
        |              list_prepend(CAST(0 AS BIGINT), bounds) AS starts,
        |              list_append(bounds, CAST(length(text) AS BIGINT)) AS ends
        |       FROM b),
        |chunks AS (SELECT doc_id,
        |                  md5(substr(text, CAST(starts[k]+1 AS INT),
        |                             CAST(ends[k]-starts[k] AS INT))) AS h
        |           FROM (SELECT doc_id, text, starts, ends,
        |                        unnest(generate_series(1, len(ends))) AS k
        |                 FROM st) u),
        |cnt AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM chunks GROUP BY h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       (CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000)
        |         // CAST(count(*) AS BIGINT) AS dup_bp
        |FROM chunks JOIN cnt USING (h)
        |GROUP BY doc_id""".stripMargin,
    "q_dedup_spans_removal" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id+300000 AS doc_id,
        |         array_to_string(string_split(text, ' ')[11:41], ' ') AS text
        |  FROM documents WHERE len(string_split(text, ' ')) >= 41),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        |p AS (SELECT doc_id, toks,
        |             unnest(generate_series(1, len(toks)-${SpanK - 1})) AS pos FROM tk),
        |sh AS (SELECT doc_id, pos,
        |              array_to_string(toks[pos:pos+${SpanK - 1}], ' ') AS sh FROM p),
        |cnt AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
        |dup AS (SELECT doc_id, pos FROM sh JOIN cnt USING (sh) WHERE c > 1),
        |flg AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $SpanK
        |             THEN 0 ELSE 1 END AS newgrp FROM dup),
        |grp AS (SELECT doc_id, pos,
        |        sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM flg),
        |spans AS (SELECT doc_id, grp, min(pos) AS sp_start, max(pos)+${SpanK - 1} AS sp_end
        |          FROM grp GROUP BY doc_id, grp),
        |cov AS (SELECT doc_id,
        |               unnest(generate_series(sp_start, sp_end)) AS pos FROM spans),
        |tokpos AS (SELECT doc_id, pos, toks[pos] AS tok FROM
        |           (SELECT doc_id, toks,
        |                   unnest(generate_series(1, len(toks))) AS pos FROM tk) tp),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tokpos t
        |         LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |         WHERE c.doc_id IS NULL),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               md5(array_to_string(list(tok ORDER BY pos), ' ')) AS clean_hash
        |        FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(a.clean_hash, md5('')) AS clean_hash
        |FROM corpus c LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q_dedup_cc" ->
      """WITH RECURSIVE und AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        |  WHERE doc_id % 10 <> 9 AND doc_id + 1 IN (SELECT doc_id FROM documents)
        |  UNION
        |  SELECT doc_id + 1 AS a, doc_id AS b FROM documents
        |  WHERE doc_id % 10 <> 9 AND doc_id + 1 IN (SELECT doc_id FROM documents)),
        |reach(a, b) AS (
        |  SELECT doc_id AS a, doc_id AS b FROM documents
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS keeper
        |FROM reach GROUP BY a""".stripMargin)
}
