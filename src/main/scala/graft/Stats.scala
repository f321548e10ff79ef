package graft

import org.apache.spark.sql.SparkSession

/** Catalog-style table statistics, memoized per (session, dir#key).
  *
  * The adaptive-rank/prefix-sum gates consult ONE corpus statistic (max
  * rows per group of a fixed table column) to pick a physical shape.
  * That is optimizer-catalog state — the exact number ANALYZE TABLE
  * would store — not per-query work, so it follows the [[Tables]] memo
  * precedent: computed once per (session, data dir), catalog lifetime
  * (never cleared; see [[SessionCache]] — a real engine reads column
  * stats from the catalog; it does not re-scan the table per query).
  * The underlying testdata dirs are immutable, so staleness cannot
  * arise; a mutable deployment would refresh on write like any catalog.
  */
object Stats {

  private val cache = SessionCache.catalog[Long]("stats")

  /** Memoized scalar statistic for `dir` under a caller-chosen `key`
    * (convention: `table.column:stat`); `compute` runs at most once per
    * (session, dir, key).
    */
  def scalar(s: SparkSession, dir: String, key: String)(compute: => Long): Long =
    cache.getOrElseUpdate(s, s"$dir#$key")(compute)
}
