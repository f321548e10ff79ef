package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided test tables (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning reach the file source. At cluster scale these would be
  * partitioned table reads; the API shape (dir + name) is unchanged.
  *
  * Loads are memoized per (session, path): `spark.read.parquet` lists
  * the directory and reads a footer for schema inference on EVERY call,
  * which at 120 declared queries × reps is a measurable slice of the
  * per-query driver floor (VERDICT r8 #1a). A real deployment holds
  * this in the catalog (a registered table's schema is resolved once);
  * the memo is exactly that catalog role, so it has the catalog
  * lifetime (never cleared; see [[SessionCache]]). The cached object is
  * an immutable logical plan; every query still re-plans and re-executes
  * from it.
  */
object Tables {
  private val cache = SessionCache.catalog[DataFrame]("tables")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate(spark, s"$dir/$name") {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    cache.getOrElseUpdate(s, s"$d/events") {
      normalizeEventTs(s.read.parquet(s"$d/events.parquet"))
    }

  /** Normalize `events.ts` to the engine-wide convention: a ns-epoch
    * LONG (CLAUDE.md "Timestamps"). The testdata's physical type has
    * flipped between parquet TIMESTAMP(NANOS) — which `nanosAsLong`
    * surfaces as a ns LONG — and TIMESTAMP(MICROS, adjustedToUTC=false)
    * — which resolves as TIMESTAMP_NTZ and silently bypasses that conf
    * (the r9 RED round). This seam is schema-adaptive so both physical
    * layouts feed the same 11 event/streaming queries unchanged:
    *   - LongType: already ns (NANOS data under nanosAsLong) — pass through.
    *   - TIMESTAMP / TIMESTAMP_NTZ: `unix_micros(ts) * 1000` → ns LONG.
    *     The NTZ→instant cast uses the session TZ, which every entry
    *     point pins to UTC, matching DuckDB's `epoch_us` on the same
    *     naive µs column — oracle SQL needs no change.
    * Anything else fails loudly (TablesSpec also pins the post-seam
    * schema so driver-side data drift breaks ONE named test, not 11
    * queries).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", (unix_micros(col("ts").cast(TimestampType)) * lit(1000L)).as("ts"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected LONG (ns) or TIMESTAMP[_NTZ] (µs)")
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
