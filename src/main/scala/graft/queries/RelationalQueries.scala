package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ExactAgg.{ssum4, ssum4Sql}
import graft.operators.{ActFeatures, Ordinals}

/** Relational operator pack — SURVEY.md §2.2/§2.4–§2.7 (O-9..O-14, O-28,
  * O-33..O-50, O-54) declared as named queries over the TESTDATA tables,
  * each with a DuckDB oracle twin.
  *
  * Conventions shared with the oracle (see SURVEY.md §5):
  *  - every computed double is `round(x, 4)` (or 2 for money sums) in BOTH
  *    engines so FP summation-order differences can't flip the hash;
  *  - window-function outputs (`row_number`, `ntile`, `rank`) are cast to
  *    BIGINT on the Spark side because DuckDB returns BIGINT;
  *  - timestamps are never emitted raw (ns-vs-µs parquet mismatch) — they
  *    leave as `unix_timestamp`-style BIGINT epochs;
  *  - deterministic tie-breaks (a unique key) on every ORDER BY.
  *
  * Scale notes are per-query in the scaladoc: the rule is hash-partitioned
  * shuffles only on real keys, broadcast for dimension tables, and no
  * global single-partition window unless the operator's semantics demand a
  * global ordinal (O-13) — flagged where used.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** O-9 column projection: pruned parquet scan (ReadSchema shows 4 cols). */
  private val o09: Q = (s, d) =>
    Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** O-10 cardinality filter (graph_creator.py:88-89 shape): keep orders
    * with >= 5 lineitems via aggregate + left-semi join. The semi join
    * shuffles both sides on the key; at scale the aggregate side is tiny
    * (one row per key) so AQE converts it to a broadcast semi join.
    */
  private val o10: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val keep = li.groupBy("l_orderkey").count().filter(col("count") >= 5)
      .select(col("l_orderkey").as("o_orderkey"))
    Tables.orders(s, d).join(keep, Seq("o_orderkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** O-11 equality filter, pushed to the parquet scan (PushedFilters). */
  private val o11: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name", "c_acctbal")

  /** O-13 positional offset (preprocessing_agent.py:388-397 resume
    * semantics): global ordinal then `>= offset`, via the two-pass
    * zipWithIndex pattern ([[graft.operators.Ordinals]]) — range-partition
    * + per-partition counts + offsets, never a single-partition window.
    */
  private val o13: Q = (s, d) =>
    Ordinals.withGlobalOrdinal(Tables.events(s, d), "row_id", col("event_id"))
      .filter(col("row_id") > 900)
      .select("row_id", "event_id", "event_type")

  /** O-14 iloc-style selection by index list (graph_creator.py:333). */
  private val o14: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id").isInCollection(Seq(0L, 7L, 42L, 99L, 123L, 404L)))
      .select("doc_id", "source", "n_chars")

  /** O-33 act split: ntile matches np.array_split (graph_creator.py:96). */
  private val o33: Q = (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("act",
        ntile(3).over(Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_suppkey")).cast("long"))
      .select("l_orderkey", "l_linenumber", "act")

  /** O-34 per-group mean (graph_creator.py:99-101) — classic partial+final
    * hash aggregate; map-side combine makes the shuffle O(groups).
    *
    * Sums go through scaled BIGINT ([[graft.functions.ExactAgg]]): the
    * inputs are exact at <= 4 decimal places, so the integer sum is exact
    * and independent of partial-agg order — double sums of 60k+ rows
    * differ between engines in the last ulps and can flip a rounded hash —
    * while staying in primitive whole-stage codegen (the earlier
    * DECIMAL(18,4) form paid the object-based Decimal aggregate path on
    * every row).
    */
  private val o34: Q = (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
      ssum4(col("l_quantity")).as("sum_qty"),
      round(ssum4(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
      ssum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
      count(lit(1)).as("n"))

  /** O-35 per-group sample stddev (pandas ddof=1, graph_creator.py:102-105).
    * Computed from exact scaled-BIGINT Σx and Σx² (inputs ≤2 dp → x²
    * exact at 4 dp) via the closed form √((Σx² − (Σx)²/n)/(n−ddof)) — the
    * engines' own stddev aggregates accumulate doubles in
    * partial-agg-dependent order, which can flip a rounded hash.
    */
  private val o35: Q = (s, d) => {
    val sx = ssum4(col("l_quantity"))
    // squares via ssum4 are safe HERE: l_quantity is an integer ≤ 50, so
    // x²·1e4 ≤ 2.5e7 per row → BIGINT holds ~3e11 rows per group
    val sxx = ssum4(col("l_quantity") * col("l_quantity"))
    val n = count(lit(1)).cast("double")
    Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      round(sqrt(greatest((sxx - sx * sx / n) / (n - 1), lit(0.0))), 4).as("std_qty"),
      round(sqrt(greatest((sxx - sx * sx / n) / n, lit(0.0))), 4).as("stdp_qty"),
      count(lit(1)).as("n"))
  }

  /** O-36 global mean vector (root centroid, graph_creator.py:389).
    * Means via exact decimal sums + one IEEE division (o34/o48
    * convention) so partial-agg order can't flip the rounded hash.
    */
  private val o36: Q = (s, d) => {
    def decAvg(c: String) =
      round(ssum4(col(c)) / count(lit(1)), 4)
    Tables.lineitem(s, d).agg(
      decAvg("l_quantity").as("avg_qty"),
      decAvg("l_discount").as("avg_disc"),
      decAvg("l_tax").as("avg_tax"))
  }

  /** O-38 count per node (graph_creator.py:222,231). */
  private val o38: Q = (s, d) =>
    Tables.orders(s, d).groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

  /** O-39 group members as list (graph_creator.py:187-189) — emitted as a
    * canonically-ordered string so the hash is engine-stable. The list is
    * capped at 1000 members (`slice(sort_array(...))`, same cap in the
    * oracle) so the per-group output row is bounded at any scale; the
    * reference's real tree groups are bounded at ≤50 leaves
    * (settings.py:104-135), so the cap is never hit in anger.
    */
  private val o39: Q = (s, d) =>
    Tables.customer(s, d).groupBy("c_nationkey").agg(
      array_join(slice(sort_array(collect_list(col("c_custkey").cast("string"))), 1, 1000), ",")
        .as("members"),
      count(lit(1)).as("n"))

  /** O-40 row-wise argmax over the vector form (clustering.ipynb cell 2). */
  private val o40: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        array_position(col("embedding"), array_max(col("embedding"))).as("dominant"))

  /** O-42 distinct. */
  private val o42: Q = (s, d) => Tables.events(s, d).select("event_type").distinct()

  /** O-43 1:N equi-join (movies ⋈ embeddings shape, graph_repo.py:193-198).
    * orders is the N-side driver; Catalyst broadcast-joins when the dim
    * side fits, else shuffled hash join — both correct, AQE decides.
    */
  private val o43: Q = (s, d) =>
    Tables.orders(s, d).join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "l_linenumber", "o_orderstatus", "l_quantity")

  /** O-44 star join (graph ⋈ movies shape): two broadcastable dims. */
  private val o44: Q = (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(
        count(lit(1)).as("n_cust"),
        round(ssum4(col("c_acctbal")) / count(lit(1)), 4).as("avg_bal"))

  /** O-45 positional (zip-with-index) join (graph_creator.py:187-189).
    * Global ordinals on both sides via the scale-safe two-pass pattern
    * ([[graft.operators.Ordinals]] — no single-partition window), then an
    * equi-join on the ordinal.
    */
  private val o45: Q = (s, d) => {
    val c = Ordinals.withGlobalOrdinal(Tables.supplier(s, d), "rn", col("s_suppkey"))
      .select("rn", "s_name")
    val n = Ordinals.withGlobalOrdinal(Tables.nation(s, d), "rn", col("n_nationkey"))
      .select("rn", "n_name")
    c.join(n, Seq("rn"))
  }

  /** O-46 explode-then-join (tree indices → member rows,
    * graph_creator.py:333,344-354): collect members per node, explode the
    * array back out, equi-join to the dimension for names.
    */
  private val o46: Q = (s, d) => {
    // Collect struct(key, name) so the explode recovers every column in
    // ONE scan + ONE shuffle — no second scan/join of customer just to
    // get c_name back (that was a 2× cost at any scale). Precondition as
    // in the reference: groups are bounded (tree leaves ≤50,
    // settings.py:104-135); nationkey here has ≤25 keys × bounded members.
    val grouped = Tables.customer(s, d).groupBy("c_nationkey")
      .agg(collect_list(struct(col("c_custkey"), col("c_name"))).as("members"))
    grouped.select(col("c_nationkey"), explode(col("members")).as("m"))
      .select(col("c_nationkey"), col("m.c_custkey").as("c_custkey"),
        col("m.c_name").as("c_name"))
  }

  /** O-47 top-k per group (graph_creator.py:349-353): row_number window
    * with a unique tie-break; Catalyst's WindowGroupLimit turns this into
    * a per-partition top-k (no full sort of each group).
    */
  private val o47: Q = (s, d) =>
    Tables.customer(s, d)
      .withColumn("rk", row_number().over(
        Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))).cast("long"))
      .filter(col("rk") <= 5)
      .select("c_nationkey", "rk", "c_custkey", "c_acctbal")

  /** O-48 centroid-delta ranking (graph_creator.py:139-159 shape): per-type
    * mean vs global mean, ranked by delta. The global stat is one row,
    * broadcast-joined — never a global window over the fact table.
    */
  private val o48: Q = (s, d) => {
    val e = Tables.events(s, d)
    // Means as exact scaled-BIGINT sums, THEN one IEEE division (o34
    // convention): double partial-aggregation order differs across
    // engines and a last-ulp difference on a rounding boundary would flip
    // delta AND cascade into rk_desc. The integer sum is order-exact; the
    // double divisions are bit-deterministic in both engines.
    val decAvg = ssum4(col("value")) / count(lit(1))
    val per = e.groupBy("event_type").agg(decAvg.as("tavg"))
    val glob = e.agg(decAvg.as("gavg"))
    val deltas = per.crossJoin(broadcast(glob))
      // round BEFORE ranking and add 0.0 to normalize -0.0 away
      .withColumn("delta", round(col("tavg") - col("gavg"), 4) + lit(0.0))
      .select("event_type", "delta")
    // Rank without a global window (WindowExec would collapse to a single
    // partition): rk = 1 + |rows sorting strictly before me| via a
    // broadcast self-join — the frame is one row per event_type, so this
    // is O(types²) on a broadcast, never a repartition of anything big.
    val other = deltas.select(col("event_type").as("e2"), col("delta").as("d2"))
    deltas.join(broadcast(other),
        col("d2") > col("delta") ||
          (col("d2") === col("delta") && col("e2") < col("event_type")),
        "left")
      .groupBy("event_type", "delta")
      .agg((count(col("e2")) + 1L).as("rk_desc"))
      .select("event_type", "delta", "rk_desc")
  }

  /** O-49 deterministic head-n (bert_comparison.ipynb cell 7). */
  private val o49: Q = (s, d) =>
    Tables.lineitem(s, d)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")

  /** O-50 z-score scaling (graph_creator.py:114) with population σ
    * (sklearn ddof=0). Stats computed as a 1-row aggregate and broadcast —
    * the scalable form of the global window.
    */
  private val o50: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val sx = ssum4(col("c_acctbal"))
    // squares stay DECIMAL: c_acctbal² ≈ 1e8 → 1e12 per row at 1e4 scale,
    // which overflows a BIGINT sum at ~9e6 rows in this GLOBAL aggregate —
    // exactly the case ExactAgg's headroom rule sends to the decimal form
    val sxx = sum((col("c_acctbal") * col("c_acctbal")).cast("decimal(28,8)")).cast("double")
    val n = count(lit(1)).cast("double")
    // μ and σ_pop from exact order-independent sums (same closed form as
    // o35) so the broadcast stats are bit-identical across engines
    val stats = c.agg((sx / n).as("mu"), sqrt(greatest((sxx - sx * sx / n) / n, lit(0.0))).as("sigma"))
    c.crossJoin(broadcast(stats))
      .select(col("c_custkey"),
        (round((col("c_acctbal") - col("mu")) / col("sigma"), 4) + lit(0.0)).as("z"))
  }

  /** O-28 ltree immediate-children match (graph_repo.py:114-123): the
    * materialized-path table is built from region→nation, then the
    * `path ~ 'root.1.*{1}'` predicate becomes prefix + depth — the one
    * rule `GraphBuild.childrenOf` serves with. Both are predicates
    * pushed into the scan; at scale the graph table is additionally
    * partitioned by depth for pruning.
    */
  private val o28: Q = (s, d) => {
    val g = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(
        concat(lit("root."), col("r_regionkey").cast("string"),
          lit("."), col("n_nationkey").cast("string")).as("path"),
        col("n_name").as("name"))
      .withColumn("depth", size(split(col("path"), "\\.")).cast("long"))
    g.filter(graft.operators.clustering.GraphBuild.isChildOf("root.1", 2L))
  }

  /** Sessionization over events: 30-min-gap sessions via lag + running
    * conditional sum, all inside one per-user window partition.
    * `ts` is a ns-epoch long (Tables.normalizeEventTs), so gap math is exact
    * integer arithmetic at the same precision DuckDB sees.
    */
  private val sess: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_ns", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ns").isNull || col("ts") - col("prev_ns") > 1800000000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("user_id", "event_id", "session_id")
  }

  /** JSON field extraction from the props column (movies.other_data shape). */
  private val json: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Tumbling-hour aggregation over events (batch twin of the streaming
    * windowed agg; timestamps leave as epoch seconds). Integer arithmetic
    * on the ns-epoch long — double division would lose precision at
    * 1.7e18 — with FLOOR-division semantics via pmod, because Spark's
    * `DIV` truncates toward zero while DuckDB's `//` floors, which would
    * diverge on pre-1970 (negative-epoch) timestamps.
    */
  private val hourly: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(expr("((ts - pmod(ts, 3600000000000L)) DIV 3600000000000L) * 3600")
          .as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Flagship: per-act feature extraction (SURVEY.md §7 phase 0). */
  private val actF: Q = (s, d) =>
    ActFeatures.actFeatures(Tables.lineitem(s, d), "l_orderkey",
      Seq("l_linenumber", "l_partkey", "l_suppkey"),
      Seq("l_quantity", "l_extendedprice", "l_discount"), numActs = 3)

  val queries: Map[String, Q] = Map(
    "o09_projection" -> o09,
    "o10_cardinality_filter" -> o10,
    "o11_eq_filter" -> o11,
    "o13_offset_slice" -> o13,
    "o14_index_select" -> o14,
    "o28_ltree_children" -> o28,
    "o33_ntile_acts" -> o33,
    "o34_group_mean" -> o34,
    "o35_group_stddev" -> o35,
    "o36_global_mean" -> o36,
    "o38_count_per_group" -> o38,
    "o39_group_members" -> o39,
    "o40_argmax" -> o40,
    "o42_distinct" -> o42,
    "o43_join_1n" -> o43,
    "o44_join_star" -> o44,
    "o45_positional_join" -> o45,
    "o46_explode_join" -> o46,
    "o47_topk_per_group" -> o47,
    "o48_centroid_delta" -> o48,
    "o49_head_n" -> o49,
    "o50_zscore" -> o50,
    "q_sessionize" -> sess,
    "q_json_extract" -> json,
    "q_hourly_agg" -> hourly,
    "q_act_features" -> actF)

  val oracle: Map[String, String] = Map(
    "o09_projection" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "o10_cardinality_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 5)""".stripMargin,
    "o11_eq_filter" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'",
    "o13_offset_slice" ->
      """SELECT row_id, event_id, event_type FROM (
        |  SELECT row_number() OVER (ORDER BY event_id) AS row_id, event_id, event_type FROM events)
        |WHERE row_id > 900""".stripMargin,
    "o14_index_select" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE doc_id IN (0, 7, 42, 99, 123, 404)",
    "o28_ltree_children" ->
      """SELECT path, name, depth FROM (
        |  SELECT 'root.' || CAST(r_regionkey AS VARCHAR) || '.' || CAST(n_nationkey AS VARCHAR) AS path,
        |         n_name AS name,
        |         CAST(len(string_split(('root.' || CAST(r_regionkey AS VARCHAR) || '.' || CAST(n_nationkey AS VARCHAR)), '.')) AS BIGINT) AS depth
        |  FROM nation JOIN region ON n_regionkey = r_regionkey)
        |WHERE path LIKE 'root.1.%' AND depth = 3""".stripMargin,
    "o33_ntile_acts" ->
      """SELECT l_orderkey, l_linenumber,
        |       ntile(3) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS act
        |FROM lineitem""".stripMargin,
    "o34_group_mean" ->
      s"""SELECT l_returnflag, l_linestatus,
        |       ${ssum4Sql("l_quantity")} AS sum_qty,
        |       round(${ssum4Sql("l_quantity")} / count(*), 4) AS avg_qty,
        |       ${ssum4Sql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "o35_group_stddev" ->
      s"""SELECT l_returnflag,
        |       round(sqrt(greatest((sxx - sx*sx/n) / (n - 1), 0.0)), 4) AS std_qty,
        |       round(sqrt(greatest((sxx - sx*sx/n) / n, 0.0)), 4) AS stdp_qty,
        |       CAST(n AS BIGINT) AS n
        |FROM (
        |  SELECT l_returnflag,
        |         ${ssum4Sql("l_quantity")} AS sx,
        |         ${ssum4Sql("l_quantity * l_quantity")} AS sxx,
        |         CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem GROUP BY l_returnflag)""".stripMargin,
    "o36_global_mean" ->
      s"""SELECT round(${ssum4Sql("l_quantity")} / count(*), 4) AS avg_qty,
        |       round(${ssum4Sql("l_discount")} / count(*), 4) AS avg_disc,
        |       round(${ssum4Sql("l_tax")} / count(*), 4) AS avg_tax
        |FROM lineitem""".stripMargin,
    "o38_count_per_group" ->
      "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
    "o39_group_members" ->
      """SELECT c_nationkey,
        |       array_to_string(list_sort(list(CAST(c_custkey AS VARCHAR)))[1:1000], ',') AS members,
        |       count(*) AS n
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "o40_argmax" ->
      "SELECT vec_id, CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS dominant FROM embeddings",
    "o42_distinct" -> "SELECT DISTINCT event_type FROM events",
    "o43_join_1n" ->
      """SELECT o_orderkey, l_linenumber, o_orderstatus, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,
    "o44_join_star" ->
      s"""SELECT r_name, count(*) AS n_cust,
        |       round(${ssum4Sql("c_acctbal")} / count(*), 4) AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "o45_positional_join" ->
      """SELECT c.rn AS rn, s_name, n_name FROM
        |  (SELECT row_number() OVER (ORDER BY s_suppkey) AS rn, s_name FROM supplier) c
        |JOIN
        |  (SELECT row_number() OVER (ORDER BY n_nationkey) AS rn, n_name FROM nation) n
        |ON c.rn = n.rn""".stripMargin,
    "o46_explode_join" ->
      """SELECT g.c_nationkey, g.c_custkey, c2.c_name FROM (
        |  SELECT c_nationkey, unnest(ids) AS c_custkey FROM (
        |    SELECT c_nationkey, list(c_custkey) AS ids FROM customer GROUP BY c_nationkey))
        |  g JOIN customer c2 ON g.c_custkey = c2.c_custkey""".stripMargin,
    "o47_topk_per_group" ->
      """SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |WHERE rk <= 5""".stripMargin,
    "o48_centroid_delta" ->
      s"""SELECT event_type, delta,
        |       row_number() OVER (ORDER BY delta DESC, event_type) AS rk_desc
        |FROM (
        |  SELECT event_type,
        |         round(${ssum4Sql("value")} / count(*)
        |               - (SELECT ${ssum4Sql("value")} / count(*) FROM events), 4) + 0.0 AS delta
        |  FROM events GROUP BY event_type)""".stripMargin,
    "o49_head_n" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "o50_zscore" ->
      s"""SELECT c_custkey, round((c_acctbal - mu) / sigma, 4) + 0.0 AS z
        |FROM customer, (
        |  SELECT sx/n AS mu, sqrt(greatest((sxx - sx*sx/n) / n, 0.0)) AS sigma
        |  FROM (
        |    SELECT ${ssum4Sql("c_acctbal")} AS sx,
        |           CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |           CAST(count(*) AS DOUBLE) AS n
        |    FROM customer))""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, event_id,
        |       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                   OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events)""".stripMargin,
    "q_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    "q_hourly_agg" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch, event_type,
        |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_act_features" -> ActFeatures.actFeaturesSql("lineitem", "l_orderkey",
      Seq("l_linenumber", "l_partkey", "l_suppkey"),
      Seq("l_quantity", "l_extendedprice", "l_discount"), numActs = 3))
}
