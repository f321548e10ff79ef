package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ARRAY<FLOAT/DOUBLE> columns (O-54; SURVEY.md §2.8) —
  * the engine twin of the reference's numpy distance
  * (graph_creator.py:350) and pgvector cosine surface
  * (db/models/embedding.py:15-18).
  *
  * Built from higher-order functions (`zip_with` + `aggregate`) so they
  * are pure Catalyst expressions — codegen'd, no UDF serialization, and
  * usable anywhere a Column is. Inputs are cast to DOUBLE first
  * ([[toDoubleArr]]) so both engines fold the same IEEE doubles in the
  * same left-to-right order — float accumulation would drift between
  * engines.
  *
  * DuckDB twins (`...Sql`) compute the same folds with
  * `list_sum(list_transform(generate_series(...)))` on the same
  * double-cast lists.
  */
object VectorOps {

  def toDoubleArr(c: Column): Column = transform(c, x => x.cast("double"))
  def toDoubleArrSql(e: String): String =
    s"list_transform($e, x -> CAST(x AS DOUBLE))"

  /** Σ aᵢ·bᵢ — sequential left fold, deterministic across engines. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i]))"

  def norm2(a: Column): Column = sqrt(dot(a, a))
  def norm2Sql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** O-54 Euclidean distance (graph_creator.py:350). */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x))
  def l2DistanceSql(a: String, b: String): String = s"sqrt(${sqDistanceSql(a, b)})"
  /** Σ (aᵢ−bᵢ)², the IVF list-assignment order (no sqrt). */
  def sqDistanceSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  /** Cosine similarity, the pgvector `vector_cosine_ops` semantics. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))
  def cosineSimilaritySql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${norm2Sql(a)} * ${norm2Sql(b)})"
  /** The graph-ANN walk's cosine (`AnnGraph.cosine`): dot / sqrt(na·nb),
    * 0 when either norm is 0. One sqrt of the product differs from the
    * form above in the last ulp, so each twin mirrors its engine's form.
    */
  def cosineGuardedSql(a: String, b: String): String =
    s"(CASE WHEN ${dotSql(a, a)} = 0 OR ${dotSql(b, b)} = 0 THEN 0.0 " +
      s"ELSE ${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}) END)"

  // Native codegen'd variants (graft.functions.expressions, registered by
  // [[graft.GraftExtensions]]): one tight loop, no intermediate array.
  // Same left-to-right double accumulation as the HOF forms, so results
  // are bit-identical and oracle twins are unchanged.
  def cosineSimilarityNative(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)
  def dotNative(a: Column, b: Column): Column =
    call_function("dot_product", a, b)
  def l2DistanceNative(a: Column, b: Column): Column =
    call_function("l2_distance", a, b)
}
