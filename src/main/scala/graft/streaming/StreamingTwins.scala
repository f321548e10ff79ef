package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Encoder case classes for the stateful sessionizer. */
final case class SessEvent(user_id: Long, event_id: Long, ts: Long)
final case class SessState(lastTs: Long, lastSession: Long)
final case class SessOut(user_id: Long, event_id: Long, session_id: Long)

/** SessEvent + the watermarked event-time column (EventTimeTimeout needs
  * the watermark column to survive into the grouped Dataset).
  */
final case class SessEventW(user_id: Long, event_id: Long, ts: Long,
    event_time: java.sql.Timestamp)

/** Structured Streaming twins (SURVEY.md §2.9) of the batch event
  * queries: the same parquet data replayed through `readStream` with
  * `Trigger.AvailableNow`, so batch and stream results must be
  * hash-identical — which is exactly how they are oracle-checked (the
  * stream queries share the batch oracles).
  *
  * Scale: file-source micro-batches + watermarked state are the standard
  * unbounded-ingest shape; `AvailableNow` drains the backlog with
  * bounded state and exits, the production pattern for catch-up runs.
  */
object StreamingTwins {

  private val runId = new AtomicInteger(0)

  /** State-store partition count for the streaming twins. Stateful
    * streaming cost here is NOT data volume but per-partition state-store
    * commit overhead: every micro-batch commits a delta per state store
    * per partition (a stream-stream join carries FOUR stores per
    * partition), so at the session default of 32 shuffle partitions a
    * single join micro-batch commits 128 stores. 2 partitions is the
    * data-sized call for the test corpus (state volume ≪ one store's
    * target size) while still exercising parallel state (r7→r8: 8→2,
    * the twins were ~40% of the bench sweep at 8). On a real cluster
    * this is the same sizing rule — state partitions ≈ state volume /
    * target store size, not the relational shuffle default.
    */
  private val StreamShufflePartitions = "2"

  /** Checkpoint root for the memory-sink twins: tmpfs when available.
    * The commit floor is per-micro-batch fsyncs of offset/commit logs +
    * state snapshots/changelogs; none of it needs durability beyond the
    * query (the durable path, [[dedupUsersResumable]], takes an explicit
    * caller-owned checkpoint dir and is untouched). Each twin run gets a
    * fresh subdir, deleted in the same `withStreamConf` exit that
    * unloads its state stores.
    */
  private val ckptRoot: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_ckpt"
    else sys.props("java.io.tmpdir") + "/graft_ckpt"

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  /** Runs `body` with streaming-tuned session confs (fewer state
    * partitions + the HDFS-backed state store), restoring the caller's
    * values after. Safe because every twin runs its query synchronously
    * inside (`awaitTermination` before return) and the harness runs
    * queries sequentially. The number of state partitions is pinned into the
    * checkpoint at first batch, so it must be set BEFORE `start()`.
    *
    * On exit every loaded state-store provider is UNLOADED
    * (`StateStore.unloadAll`, reflective — private[sql]): a finished
    * AvailableNow run otherwise leaves its state stores (maps, open
    * files, maintenance-thread work) loaded in the executor singleton
    * until the 60 s maintenance tick, and across a
    * 120-query bench sweep dozens of dead runs' stores accumulate and
    * contaminate every later query's window. A long-lived embedder
    * gets the same hygiene for free on each twin call.
    */
  private lazy val stateStoreUnloadAll: () => Unit = {
    val m = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val module = m.getField("MODULE$").get(null)
    val meth = m.getMethod("unloadAll")
    () => meth.invoke(module)
  }

  private def withStreamConf[T](spark: SparkSession,
      finalNoDataBatch: Boolean)(body: => T): T = {
    val conf = spark.conf
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val ckptKey = "spark.sql.streaming.checkpointLocation"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val oldParts = conf.get("spark.sql.shuffle.partitions")
    val oldProv = conf.getOption(provKey)
    val oldCkpt = conf.getOption(ckptKey)
    val oldNd = conf.getOption(ndKey)
    conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
    // The trailing NO-DATA micro-batch exists to advance the watermark
    // after the last data batch, so operators whose EMISSION is gated on
    // the watermark (append-mode windowed aggregation) can flush closed
    // windows. Only q_stream_hourly_append has that shape; every other
    // twin emits its rows inside the data batch (inner stream-stream
    // join, dropDuplicates[WithinWatermark], flatMapGroupsWithState in
    // append mode, complete-mode aggregation re-emitting per batch) and
    // the extra batch buys only state EVICTION — pointless work for an
    // AvailableNow drain that unloads its state stores on exit anyway.
    // Skipping it removes one full incremental-planning + commit cycle
    // per run — the dominant floor of a small-data micro-batch. The
    // batching contracts are unaffected (they count DATA batches).
    if (!finalNoDataBatch) conf.set(ndKey, "false")
    // The twins' state is KB-scale, where the JVM-heap HDFS-backed store
    // wins: RocksDB pays a native instance spin-up per (store × partition
    // × rep) that dominates these sub-second runs.
    conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.HDFSBackedStateStoreProvider")
    // Fresh tmpfs checkpoint per twin run (queryName is unique per run,
    // so sub-paths can't collide even within one root).
    val ckptDir = s"$ckptRoot/${runId.get()}_${System.nanoTime()}"
    conf.set(ckptKey, ckptDir)
    try body finally {
      conf.set("spark.sql.shuffle.partitions", oldParts)
      Seq((provKey, oldProv), (ckptKey, oldCkpt), (ndKey, oldNd)).foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
      try stateStoreUnloadAll()
      catch { case _: Throwable => () } // hygiene only — never fail a result
      try deleteRec(new java.io.File(ckptDir))
      catch { case _: Throwable => () }
    }
  }

  /** Runs a streaming frame to completion into a uniquely-named memory
    * sink and returns the materialized table.
    *
    * `minDataBatches`/`maxDataBatches` bound the number of micro-batches
    * that carried input rows, and FAIL LOUDLY when violated: several
    * twins' oracle equivalence is only valid under a specific batching
    * (the single-batch twins' state semantics assume no cross-batch
    * watermark eviction; the multi-batch twins must genuinely cross
    * batches or they prove nothing). A future multi-file events layout
    * breaks here instead of hash-diverging (ADVICE r6).
    */
  private def runToTable(df: DataFrame, mode: String,
      minDataBatches: Int = 1, maxDataBatches: Int = Int.MaxValue,
      finalNoDataBatch: Boolean = false): DataFrame =
    withStreamConf(df.sparkSession, finalNoDataBatch) {
      val t0 = System.nanoTime()
      val name = s"graft_stream_${runId.incrementAndGet()}"
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      val t1 = System.nanoTime()
      q.awaitTermination()
      val t2 = System.nanoTime()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= minDataBatches && dataBatches <= maxDataBatches,
        s"streaming twin drained in $dataBatches data micro-batch(es), " +
          s"expected [$minDataBatches, ${
            if (maxDataBatches == Int.MaxValue) "∞" else maxDataBatches
          }] — the batch oracle's equivalence assumes this batching")
      // Detach the result from the memory sink: copy to a LocalRelation
      // and drop the temp view, so the sink's row buffer doesn't live
      // for the rest of the session (a bench sweep runs 40+ twins).
      val sink = df.sparkSession.table(name)
      val local = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(sink.collect(): _*), sink.schema)
      df.sparkSession.catalog.dropTempView(name)
      // Per-phase attribution: start = plan resolve + thread spawn +
      // checkpoint init; run = micro-batch execution (awaitTermination —
      // where the in-sweep inflation lives, PERF.md); drain = sink
      // collect + LocalRelation copy + view drop. Always recorded to the
      // in-memory log (Bench dumps it to bench_out.json so a driver-run
      // blowup can be attributed from the artifact itself — VERDICT r11 #1).
      val t3 = System.nanoTime()
      phaseLogAdd(PhaseSample(name,
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
      local
    }

  /** One twin run's phase attribution (seconds). */
  final case class PhaseSample(run: String, startS: Double, runS: Double,
      drainS: Double)

  // Bounded: Bench drains after every timed twin, but Verify / tests /
  // a long-lived embedder never call drainPhaseLog — without a cap the
  // static queue grows with every twin run for the life of the JVM.
  // Plain deque under a lock (ADVICE r12 #3: the previous lock-free
  // AtomicInteger + conditional-poll cap maintenance could leak counter
  // increments under concurrent add/drain, permanently shrinking the
  // effective cap) — the log is KB-scale and far off the hot path.
  private val PhaseLogCap = 64
  private val phaseLog = new java.util.ArrayDeque[PhaseSample]

  private def phaseLogAdd(s: PhaseSample): Unit = phaseLog.synchronized {
    phaseLog.addLast(s)
    while (phaseLog.size > PhaseLogCap) phaseLog.pollFirst()
  }

  /** Returns and clears the phase samples recorded since the last drain
    * (bench hook — attributes each sample to the twin that just ran).
    */
  def drainPhaseLog(): Seq[PhaseSample] = phaseLog.synchronized {
    val out = Vector.newBuilder[PhaseSample]
    var s = phaseLog.pollFirst()
    while (s != null) { out += s; s = phaseLog.pollFirst() }
    out.result()
  }

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // RAW file schema (ts may be TIMESTAMP_NTZ µs on regenerated data);
    // the Tables.normalizeEventTs seam restores the engine-wide ns-LONG
    // convention on the streaming frame, same as every batch consumer.
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // The file source needs a DIRECTORY; select just the events file via
    // a glob filter (a real deployment would point at an arrival dir).
    Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  // The events table re-laid-out as N TIME-RANGE parquet files with
  // ascending mtimes — a synthetic "arrival directory" where file k+1
  // holds only events at-or-after everything in file k. Replaying it
  // with maxFilesPerTrigger=1 yields genuine multi-micro-batch execution
  // with in-order arrival, so no row is ever late against the watermark.
  // Memoized per (session, dir) with the catalog lifetime, never dropped
  // between bench reps: the layout is input staging (like the testdata
  // itself), not query work — reps time the streaming execution, not
  // the re-split.
  private val splitCache = graft.SessionCache.catalog[String]("events_time_split")

  private def timeSplitEvents(spark: SparkSession, dir: String, n: Int): String =
    splitCache.getOrElseUpdate(spark, s"$dir#$n") {
      // `n` is part of the directory name, not just the memo key: a
      // second split of the same dir at a different n must get its own
      // path, or it would overwrite the layout a cached entry points at
      // (ADVICE r7 #3)
      val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_events_split_" + graft.Scratch.dirTag(dir) + "_n" + n).toString
      // write the NORMALIZED frame (ts already ns LONG) so the split
      // files carry the engine-wide convention physically and the
      // streaming scan schema below needs no second normalization
      Tables.events(spark, dir)
        .repartitionByRange(n, col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(out)
      // the file source admits oldest-mtime first; stamp mtimes in part
      // order (range partition 0 = earliest time range) so arrival order
      // IS time order regardless of filesystem timestamp granularity
      new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 60000L)
        }
      out
    }

  private def eventsStreamSplit(spark: SparkSession, dir: String,
      nFiles: Int): DataFrame = {
    val split = timeSplitEvents(spark, dir, nFiles)
    // split files are written post-normalization: ts is a ns LONG there
    val schema = Tables.events(spark, dir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(split)
  }

  /** Streaming twin of q_hourly_agg: event-time watermark + tumbling
    * hour buckets (same floor-div arithmetic as the batch query), run in
    * complete mode so the final state equals the batch aggregate.
    */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withColumn("event_time", (col("ts") / lit(1000000000L)).cast("timestamp"))
      .withWatermark("event_time", "1 hour")
      .groupBy(
        expr("((ts - pmod(ts, 3600000000000L)) DIV 3600000000000L) * 3600")
          .as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    runToTable(agg, "complete")
  }

  /** The UNBOUNDED-stream shape of the hourly aggregate: append output
    * mode, where a window is emitted exactly once — when the event-time
    * watermark passes its end — and its state is evicted. This is the
    * mode a 24/7 ingest actually runs (complete mode re-emits everything
    * and never evicts); the complete-mode twin above stays as the
    * all-windows oracle check.
    *
    * What the sink receives is therefore only the CLOSED windows: with
    * `AvailableNow` draining static data, the final watermark is
    * max(event_time) − 1 h (ms precision — Spark tracks event-time stats
    * in milliseconds), so the oracle is the batch hourly aggregate
    * restricted to windows whose end ≤ that watermark. The trailing
    * open window(s) stay in state — exactly the eviction semantics this
    * query exists to prove.
    *
    * This twin runs MULTI-micro-batch (3 time-range files,
    * maxFilesPerTrigger=1 — enforced via `minDataBatches`), so windows
    * spanning a file boundary genuinely accumulate state across batches
    * and emission/eviction happens mid-stream, not just at drain end.
    * The batch oracle stays valid because arrival is time-ordered (no
    * row is late, so none is dropped) and a window is emitted EXACTLY
    * once — when the watermark first passes its end — with its complete
    * count: any later row for that window would have event time ≥
    * watermark + delay > window end, i.e. it can't exist. Union over
    * batches = all windows with end ≤ final watermark, same as a
    * single-batch drain. (The sessionizer/dedup-wm twins can NOT run
    * multi-batch against their batch oracles: cross-batch timeout
    * eviction restarts their numbering/re-emits keys by design, so they
    * pin single-batch instead.)
    */
  def hourlyAggAppend(spark: SparkSession, dir: String): DataFrame =
    // the ONE twin whose emission is watermark-gated: the trailing
    // no-data batch is what flushes the windows the last data batch's
    // watermark closed — without it the sink misses the final windows
    runToTable(hourlyAppendPlan(eventsStreamSplit(spark, dir, 3)), "append",
      minDataBatches = 3, finalNoDataBatch = true)

  /** Streaming twin of the HLL registers sketch (q_sketch_registers'
    * derivation over the event stream's user ids): realtime distinct
    * cardinality, the streaming face of the sketch family. Register
    * max is DISTRIBUTIVE and MONOTONE, so the complete-mode final state
    * equals the batch sketch under ANY batching — which is exactly the
    * mergeability claim the sketch family makes, here exercised across
    * genuine micro-batch boundaries (3 time-range files, one per
    * trigger, minDataBatches = 3 so a layout change that collapses the
    * batching fails loudly instead of silently proving less).
    */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame =
    runToTable(
      graft.queries.SketchQueries.hllRegistersOf(
        eventsStreamSplit(spark, dir, 3)
          .select(col("user_id").cast("string").as("sh"))),
      "complete", minDataBatches = 3, maxDataBatches = 3)

  /** Streaming twin of the CMS frequency sketch (q_sketch_heavy_hitters'
    * register table over the event stream's user ids — r16): realtime
    * frequency estimation, the counting face of the streaming sketch
    * family next to q_stream_hll's cardinality face. Bucket counts are
    * ADDITIVE, so the complete-mode final state equals the batch sketch
    * under ANY batching — the CMS mergeability property, exercised
    * across genuine micro-batch boundaries (3 time-range files, one per
    * trigger, enforced exactly 3 data batches like the HLL twin).
    */
  def cmsRegisters(spark: SparkSession, dir: String): DataFrame =
    runToTable(
      graft.queries.SketchQueries.cmsSketchOf(
        eventsStreamSplit(spark, dir, 3)
          .select(col("user_id").cast("string").as("sh"))),
      "complete", minDataBatches = 3, maxDataBatches = 3)

  /** The append-mode plan over ANY streaming events frame (ts ns LONG,
    * event_type, value) — factored out so tests can drive it from a
    * MemoryStream and pin the watermark-eviction boundary semantics the
    * oracle depends on (a window is emitted once watermark ≥ window
    * end — `WatermarkBoundarySpec`).
    */
  def hourlyAppendPlan(events: DataFrame): DataFrame =
    events
      // µs-truncated event time (asof rule): TimestampType is µs
      // internally, so batch/stream/oracle all bucket identical instants
      .withColumn("event_time",
        expr("timestamp_micros((ts - pmod(ts, 1000L)) DIV 1000L)"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming stateful dedup (dropDuplicates state store), projected to
    * the key set so the result is order-independent and oracle-checkable
    * as `SELECT DISTINCT user_id`. Runs MULTI-micro-batch (3 files,
    * maxFilesPerTrigger=1): unevicted key state must carry across
    * batches — a key seen in batch 0 recurring in batch 2 is suppressed
    * by state, not by intra-batch dedup — and the result is batching-
    * insensitive, so the DISTINCT oracle holds for any split.
    */
  def dedupUsers(spark: SparkSession, dir: String): DataFrame =
    runToTable(
      eventsStreamSplit(spark, dir, 3).select(col("user_id"))
        .dropDuplicates("user_id"),
      "append", minDataBatches = 3)

  /** The STATE-BOUNDED streaming dedup (`dropDuplicatesWithinWatermark`):
    * plain `dropDuplicates` keeps every key ever seen — state grows with
    * the stream, the same unbounded-state smell as complete-mode
    * aggregation. Here a key's state is evicted once the watermark
    * passes its event time + delay, so state is bounded by the delay
    * window; the trade (a key recurring AFTER eviction is emitted again)
    * is pinned in `WatermarkBoundarySpec`. On the static replay all rows
    * land in one micro-batch, so the result is hash-equal to
    * `SELECT DISTINCT user_id` — which is how it is oracle-checked; that
    * single-batch assumption is ENFORCED (maxDataBatches=1): a key
    * evicted then recurring across real batches re-emits by design and
    * would hash-diverge, so a multi-file layout must fail loudly here.
    */
  def dedupUsersWatermarked(spark: SparkSession, dir: String): DataFrame =
    runToTable(dedupWithinWatermarkPlan(eventsStream(spark, dir)), "append",
      maxDataBatches = 1)

  /** The bounded-dedup plan over any streaming events frame (test hook). */
  def dedupWithinWatermarkPlan(events: DataFrame): DataFrame =
    events
      .withColumn("event_time",
        expr("timestamp_micros((ts - pmod(ts, 1000L)) DIV 1000L)"))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("user_id")
      .select(col("user_id"))

  /** Streaming twin of q_sessionize via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset custom-state operator (builder brief §2.9):
    * per-user state carries (last event ts, last session id) so session
    * numbering is genuinely incremental across micro-batches; 30-min gap
    * opens a new session, same as the batch window query. Events within a
    * batch are sorted per user (groups are user-bounded) — with
    * AvailableNow over static data this reproduces the batch result
    * exactly, which is how it's oracle-checked.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[SessEvent]
    // single-batch pinned: per-user in-batch sorting only reproduces the
    // batch session numbering when all of a user's events share a batch
    runToTable(sessionizeDS(events).toDF(), "append", maxDataBatches = 1)
  }

  /** Stream-stream INNER JOIN with watermark-bounded state: clicks ×
    * purchases by the same user where the purchase lands within 1 hour
    * AFTER the click — the funnel-attribution join. Both sides carry an
    * event-time watermark and the join has a time-RANGE condition, which
    * is what lets Spark expire buffered rows (state stays bounded by the
    * watermark delay instead of growing with the stream). The EXACT
    * pairing predicate is the integer-µs comparison (asof rule: DuckDB
    * reads the parquet TIMESTAMP(NANOS) truncated to µs); the
    * event-time range carries ±1 s slack so the ~2⁻²² s rounding of the
    * double-seconds timestamp can never exclude a pair the µs predicate
    * admits — it only bounds state, the µs predicate decides membership.
    * Oracle: the same join in batch SQL.
    */
  def clickPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    // Event time built with timestamp_micros on the µs-truncated ns long:
    // TimestampType IS µs internally, so the time-range join condition
    // compares at exactly DuckDB's epoch_us precision (asof rule) — no
    // separate integer predicate, and the join condition stays purely
    // event-time, which the state-watermark solver can bound.
    val base = eventsStream(spark, dir)
      .withColumn("event_time",
        expr("timestamp_micros((ts - pmod(ts, 1000L)) DIV 1000L)"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_time") > col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"))
    // single-batch pinned: with real multi-batch arrival the watermark
    // could expire a buffered click before its purchase arrives — the
    // batch oracle joins ALL pairs, so the assumption must fail loudly
    runToTable(
      joined.select(col("click_id"), col("purchase_id"),
        col("c_user").as("user_id")),
      "append", maxDataBatches = 1)
  }

  /** Durable resumable dedup — the engine analogue of the reference's
    * offset/resume bookkeeping (settings.py:39-42 offset config;
    * preprocessing_agent.py:388-397 skip-already-processed): file-source
    * offsets AND the dropDuplicates key state live in `checkpointDir`, so
    * a restarted query drains only files that arrived since the last run
    * and never re-emits a key seen in an earlier run. `AvailableNow`
    * drains the backlog and exits — the production catch-up pattern; a
    * 24/7 deployment would only change the trigger.
    *
    * Exactly-once: the parquet file sink commits atomically per
    * micro-batch via the checkpoint's commit log (memory sinks can't
    * recover, which is why the oracle-checked twins above are
    * correctness twins, not the durability surface).
    */
  def dedupUsersResumable(spark: SparkSession, inDir: String,
      checkpointDir: String, outDir: String): Unit = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("user_id", LongType)))
    val q = spark.readStream.schema(schema).parquet(inDir)
      .dropDuplicates("user_id")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** BOUNDED-STATE sessionizer: same per-user incremental numbering, but
    * idle users are EVICTED via `EventTimeTimeout` once the watermark
    * passes their last event + gap — per-user state no longer grows with
    * the all-time user count, which is what an unbounded stream needs
    * (the q_stream_dedup_wm story for custom state). The trade: a user
    * recurring after eviction restarts at session 1 — but the gap rule
    * would have opened a new session anyway; only the absolute numbering
    * resets (pinned in `WatermarkBoundarySpec`). On the static replay all
    * events land in one micro-batch (no timeouts fire), so the result is
    * hash-equal to the batch `q_sessionize` oracle — enforced with
    * maxDataBatches=1, since cross-batch eviction resets numbering by
    * design and would silently hash-diverge otherwise.
    */
  def sessionizeBounded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    runToTable(sessionizeBoundedDS(events).toDF(), "append",
      maxDataBatches = 1)
  }

  /** The bounded-state core over any streaming (user_id, event_id, ts ns)
    * frame; the watermark column is added and declared here.
    */
  def sessionizeBoundedDS(events: DataFrame,
      gapNs: Long = 1800000000000L): org.apache.spark.sql.Dataset[SessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapNs / 1000000L
    events
      .withColumn("event_time",
        expr("timestamp_micros((ts - pmod(ts, 1000L)) DIV 1000L)"))
      .withWatermark("event_time", "1 hour")
      .as[SessEventW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessEventW], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // idle past the gap at the current watermark: the session is
            // closed and the user's state is dropped — THE bounded-state
            // point; rows were already emitted when the events arrived
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
            var lastTs = prev.lastTs
            var session = prev.lastSession
            val outRows = batch.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
              if (lastTs == Long.MinValue || e.ts - lastTs > gapNs) session += 1
              lastTs = e.ts
              SessOut(uid, e.event_id, session)
            }
            state.update(SessState(lastTs, session))
            // evict once the watermark passes last event + gap
            state.setTimeoutTimestamp(lastTs / 1000000L + gapMs)
            outRows.iterator
          }
      }
  }

  // ---- streaming CDC MERGE sink (r17, VERDICT r16 #5) ----

  /** The deterministic q_merge_upsert changeset (status updates for
    * keys ≡0 mod 7, negated-key inserts for keys ≡0 mod 13) re-laid-out
    * as 3 key-range parquet files with ascending mtimes — the arrival
    * directory the streaming merge drains. Memoized per (session, dir)
    * like the events split: the layout is input staging, not query
    * work. Update and insert key spaces are disjoint (inserts are
    * negative), so ANY batching of the changes commutes into the same
    * final state — which is what lets the batch q_merge_upsert oracle
    * check the multi-batch stream.
    */
  private def changesSplit(spark: SparkSession, dir: String): String =
    splitCache.getOrElseUpdate(spark, s"$dir#merge") {
      val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_changes_split_" + graft.Scratch.dirTag(dir)).toString
      val base = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("U").as("u_status"),
          col("o_totalprice").as("u_price"))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .select(negate(col("o_orderkey")).as("o_orderkey"),
            lit("I").as("u_status"), col("o_totalprice").as("u_price")))
        .repartitionByRange(3, col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 60000L)
        }
      out
    }

  /** Probe stream for the ANN serve twin: the 50 recall probes split
    * into 3 disjoint vec_id ranges, one file per micro-batch.
    */
  private def annProbesSplit(spark: SparkSession, dir: String): String =
    splitCache.getOrElseUpdate(spark, s"$dir#annprobes") {
      val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_annprobes_split_" + graft.Scratch.dirTag(dir)).toString
      Tables.embeddings(spark, dir).filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"))
        .repartitionByRange(3, col("vec_id"))
        .write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 60000L)
        }
      out
    }

  /** Streaming ANN serving — real-time vector retrieval against the
    * STANDING IVF index (the online half of the index lifecycle next
    * to build/upsert/persist): each micro-batch of probe vectors runs
    * the UNCHANGED `AnnIvf.topK` search over the memoized lists and
    * appends its answers to a serving log. Search is stateless per
    * probe and the 3 range files partition the probe set, so the
    * drained log must equal the one-shot batch search over all 50
    * probes — the oracle is the q_ann_ivf replay parameterized to this
    * probe set (`ivfTopkSqlFor`). ENFORCED 3 data micro-batches
    * (maxFilesPerTrigger=1): the serve loop genuinely crosses batch
    * boundaries, unlike a single-trigger smoke run.
    */
  def annServe(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark, finalNoDataBatch = false) {
      val t0 = System.nanoTime()
      val name = s"graft_stream_${runId.incrementAndGet()}"
      val index = graft.queries.VectorQueries.ivfIndex(spark, dir)
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      val prefix = s"graft_stream_annserve_${graft.Scratch.dirTag(dir)}_"
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(prefix)).foreach(deleteRec)
      val resultRoot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"$prefix$name").toString
      val split = annProbesSplit(spark, dir)
      val schema = spark.read.parquet(split).schema
      val served = new AtomicInteger(0)
      val t1 = System.nanoTime()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(split)
        .writeStream.queryName(name)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.operators.AnnIvf
            .topK(index, batch, "vec_id", "embedding", k = 10, nProbe = 4)
            .write.mode("append").parquet(resultRoot)
          served.incrementAndGet()
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val t2 = System.nanoTime()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 3 && served.get() >= 3,
        s"streaming ANN serve drained in $dataBatches data micro-batch(es), " +
          "expected exactly 3 — the multi-batch serving contract")
      val out = spark.read.parquet(resultRoot)
      val t3 = System.nanoTime()
      phaseLogAdd(PhaseSample(name,
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
      out
    }

  /** Streaming upsert sink — the `foreachBatch` MERGE twin of
    * q_merge_upsert (the CDC-ingest shape the streaming family lacked
    * next to agg/dedup/join/sessionize/sketch): each micro-batch of
    * change rows is merged into the standing state table via the SAME
    * full-outer-join + coalesce the batch operator uses, writing a new
    * state version per batch (the Delta-style MERGE loop — at scale
    * the rewrite is per-partition copy-on-write, here plain parquet
    * versions). ENFORCED 3 data batches (3 key-range files,
    * maxFilesPerTrigger=1), so the merge genuinely folds state across
    * micro-batch boundaries; the final state must hash-equal the batch
    * q_merge_upsert result — its oracle IS the batch oracle.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark, finalNoDataBatch = false) {
      val t0 = System.nanoTime()
      val name = s"graft_stream_${runId.incrementAndGet()}"
      // reap earlier runs' final-state dirs (each rep keeps only its
      // own final version alive for the returned lazy frame; a bench
      // sweep runs many reps and tmpdir lives on tmpfs)
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      val prefix = s"graft_stream_merge_${graft.Scratch.dirTag(dir)}_"
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(prefix)).foreach(deleteRec)
      val stateRoot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"${prefix}$name").toString
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(s"$stateRoot/v0")
      val split = changesSplit(spark, dir)
      val schema = spark.read.parquet(split).schema
      val ver = new AtomicInteger(0)
      val t1 = System.nanoTime()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(split)
        .writeStream.queryName(name)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val v = ver.get()
          spark.read.parquet(s"$stateRoot/v$v")
            .join(batch, Seq("o_orderkey"), "full_outer")
            .select(col("o_orderkey"),
              coalesce(col("u_status"), col("o_orderstatus")).as("o_orderstatus"),
              coalesce(col("u_price"), col("o_totalprice")).as("o_totalprice"))
            .write.mode("overwrite").parquet(s"$stateRoot/v${v + 1}")
          ver.incrementAndGet()
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val t2 = System.nanoTime()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 3 && ver.get() >= 3,
        s"streaming merge drained in $dataBatches data micro-batch(es), " +
          "expected exactly 3 — the cross-batch merge contract")
      // intermediate versions are dead once the final state exists
      (0 until ver.get()).foreach(v =>
        deleteRec(new java.io.File(s"$stateRoot/v$v")))
      val out = spark.read.parquet(s"$stateRoot/v${ver.get()}")
      val t3 = System.nanoTime()
      phaseLogAdd(PhaseSample(name,
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
      out
    }

  /** The stateful core, reusable over any streaming Dataset[SessEvent]
    * (e.g. a MemoryStream in tests, Kafka in production).
    */
  def sessionizeDS(events: org.apache.spark.sql.Dataset[SessEvent],
      gapNs: Long = 1800000000000L): org.apache.spark.sql.Dataset[SessOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[SessEvent], state: GroupState[SessState]) =>
          val prev = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
          var lastTs = prev.lastTs
          var session = prev.lastSession
          val outRows = batch.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
            if (lastTs == Long.MinValue || e.ts - lastTs > gapNs) session += 1
            lastTs = e.ts
            SessOut(uid, e.event_id, session)
          }
          state.update(SessState(lastTs, session))
          outRows.iterator
      }
  }
}
