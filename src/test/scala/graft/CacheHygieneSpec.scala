package graft

/** VERDICT r5 "What's wrong" #3: scratch persists must not accumulate
  * cached lineages across calls in a long-lived session. Every query
  * that caches a multiply-consumed intermediate registers it with
  * [[Scratch]]; after the query's action + `Scratch.release` the
  * session's CacheManager must be empty again.
  */
class CacheHygieneSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // the queries that persist per-call scratch frames (memoized BUILD
  // artifacts — graph build, IVF index, BM25 index — are a different,
  // artifact-lifetime memo that only clearCaches drops)
  // (q_tfidf_terms left this list in r16: its single-consumption
  // restructure removed the scratch persist entirely. q_autocorr left
  // it in the r18 optimization round: the dense grid now explodes out
  // of a per-type bounded hour→count map, so the counts frame is
  // consumed once and the persist is gone. q_bm25_upsert's probes⋈terms
  // scratch frame also left in r18: the bounded join is recomputed by
  // its two consumers (the probe scan is min/max-pruned to the probe
  // window), which is cheaper than the cache-population barrier.)
  private val scratchUsers = Seq("q_dedup_minhash", "q_dedup_jaccard",
    "q_dedup_chunks", "q_decontaminate", "q_sketch_quantiles",
    "q_multimodal_phash", "q_langid_eval", "q_span_corrupt",
    "q_ann_recall_int8")

  // queries that persist scratch AND read memoized build caches (r18):
  // release hygiene asserted the same way, but the CacheManager is only
  // empty after the keyed build memos are cleared too
  private val buildScratchUsers = Seq("q_bitext_mine")

  test("scratch persists are fully released after each query's action") {
    SparkEntry.clearCaches()
    spark.sharedState.cacheManager.clearCache()
    scratchUsers.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
      assert(Scratch.activeCount(spark) > 0,
        s"$name registered no scratch frames — did a persist bypass Scratch?")
      Scratch.release(spark)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left InMemoryRelations cached after release")
    }
    assert(Scratch.activeCount(spark) === 0)
  }

  test("build-memo queries' scratch releases; clearCaches empties the rest") {
    SparkEntry.clearCaches()
    spark.sharedState.cacheManager.clearCache()
    buildScratchUsers.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
      assert(Scratch.activeCount(spark) > 0,
        s"$name registered no scratch frames — did a persist bypass Scratch?")
      Scratch.release(spark)
      assert(Scratch.activeCount(spark) === 0,
        s"$name left scratch registered after release")
      SparkEntry.clearCaches()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left InMemoryRelations cached after release + clearCaches")
    }
  }

  // queries whose persists live ONLY in keyed build-memo caches (no
  // per-call scratch since r18): clearCaches alone must empty the
  // CacheManager — covers e.g. bm25UpsertState's persisted dPost, whose
  // unpersist hook would otherwise regress with every suite green
  // (r18 review)
  private val memoOnlyUsers = Seq("q_bm25_upsert")

  test("memo-only queries: clearCaches alone empties the CacheManager") {
    SparkEntry.clearCaches()
    spark.sharedState.cacheManager.clearCache()
    memoOnlyUsers.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
      Scratch.release(spark)
      // the memo's persist must EXIST while the query serves (r19,
      // ADVICE r18: dropping the multi-consumer .persist() itself —
      // not just its release hook — would otherwise regress silently
      // with every suite green)
      assert(!spark.sharedState.cacheManager.isEmpty,
        s"$name registered no memo-backed persist — was the .persist() dropped?")
      SparkEntry.clearCaches()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left InMemoryRelations cached after clearCaches")
    }
  }

  test("releaseAll drops scratch from every session (bench cold-rep hook)") {
    import org.apache.spark.sql.functions._
    Scratch.persist(spark.range(10).toDF("id").select(col("id") * 2))
    assert(Scratch.activeCount(spark) === 1)
    SparkEntry.clearCaches()
    assert(Scratch.activeCount(spark) === 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("build-artifact memos unpersist everything on clearCaches") {
    // r12: dropping a memo entry without unpersisting its frames leaves
    // InMemoryRelations in the CacheManager, where an identical rebuild
    // plan would silently SUBSTITUTE the stale cache — a "cold" build
    // rep that isn't, and a leak in a long-lived embedder. Run every
    // bench artifact build (dependency order, as a bench pass does),
    // then assert the full clear leaves the CacheManager empty and every
    // artifact memo drained, while the catalog memos survive.
    SparkEntry.clearCaches()
    spark.sharedState.cacheManager.clearCache()
    assert(Stats.scalar(spark, sf, "hygiene:probe")(42L) === 42L)
    SparkEntry.benchArtifacts.foreach { case (_, fn) =>
      fn(spark, sf).queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
    }
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the builds should have persisted frames")
    val memos = SessionCache.ofLifetime(SessionCache.Artifact)
    val unfilled = memos.filter(_.activeCount(spark) == 0).map(_.name)
    assert(unfilled.isEmpty, s"no build filled: ${unfilled.mkString(",")}")
    SparkEntry.clearCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "clearCaches left persisted build frames in the CacheManager")
    val left = memos.filter(_.activeCount(spark) > 0).map(_.name)
    assert(left.isEmpty, s"clearCaches left artifact memo entries: ${left.mkString(",")}")
    // catalog lifetime: Tables loads and Stats scalars are never cleared
    val tables = SessionCache.ofLifetime(SessionCache.Catalog).filter(_.name == "tables")
    assert(tables.map(_.activeCount(spark)).sum > 0, "clearCaches dropped the Tables memo")
    assert(Stats.scalar(spark, sf, "hygiene:probe")(fail("Stats memo was cleared")) === 42L)
  }

  test("a shared statistic is computed once, whichever reader runs first") {
    // a fresh data dir, so no earlier test has filled its Stats entries
    val dir = java.nio.file.Files.createTempDirectory("graft-stats")
    val docs = dir.resolve("documents.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "documents.parquet"), docs)
    try {
      val d = dir.toString
      // q_corpus_shuffle reads the document count while it plans
      SparkEntry.queries("q_corpus_shuffle")(spark, d)
      val (bound, cost) = Ledger.measure(spark)(
        queries.GraphAnalyticsQueries.lpaNodesUpperBound(spark, d))
      assert(cost.jobs === 0, "the LPA bound counted the corpus again")
      assert(bound === 2L * Tables.documents(spark, d).count())
    } finally {
      java.nio.file.Files.delete(docs)
      java.nio.file.Files.delete(dir)
    }
  }

  test("session-stop eviction: no memo cache entry survives the session") {
    // VERDICT r6 "what's wrong" #3: caches key on the session UUID and a
    // context listener evicts on stop. The suites share one context, so
    // drive the listener body directly (same code path the stop fires).
    val cache = SessionCache.catalog[String]("test")
    assert(cache.getOrElseUpdate(spark, "dirA")("v1") === "v1")
    assert(cache.getOrElseUpdate(spark, "dirB")("v2") === "v2")
    assert(cache.activeCount(spark) === 2)
    // memoized: the build expression must not re-run
    assert(cache.getOrElseUpdate(spark, "dirA")(fail("rebuilt")) === "v1")
    SessionCache.evictSession(SessionCache.keyOf(spark))
    assert(cache.activeCount(spark) === 0)
  }

  test("retired session inside a live context: entries released automatically") {
    // VERDICT r8 #7: classic Spark has no per-session stop API or event
    // (`stop()`/`close()` stop the whole context), so a session retired
    // inside a shared context ends its life by becoming unreachable.
    // The bucket is attached to the session itself and held here only
    // weakly, so session + bucket + cached frames form one cycle the GC
    // reclaims — no manual evictSession needed.
    val cache = SessionCache.catalog[org.apache.spark.sql.DataFrame]("test")
    var s2: org.apache.spark.sql.SparkSession = spark.newSession()
    val k = SessionCache.keyOf(s2)
    cache.getOrElseUpdate(s2, "dirD")(s2.range(10).toDF())
    assert(cache.activeCount(s2) === 1)
    assert(SessionCache.isLive(k))
    // the main suite session must survive untouched
    assert(cache.getOrElseUpdate(spark, "dirMain")(spark.range(1).toDF()) ne null)
    s2 = null // retire: drop the only strong reference
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (SessionCache.isLive(k) && System.nanoTime < deadline) {
      System.gc(); Thread.sleep(50)
    }
    assert(!SessionCache.isLive(k),
      "retired session's cache bucket not reclaimed within 30s of GC pressure")
    assert(SessionCache.catalog[String]("test").activeCount(spark) === 0) // fresh cache, empty sub
    SessionCache.evictSession(spark) // leave no residue for other tests
  }

  test("evict/reuse cycles: entries stay evictable after an evict") {
    // ADVICE r7 #1: evictSession keeps the per-session hook registry
    // (clearing only its hooks), so a session reused after eviction
    // re-registers its evictor instead of leaking a dead one — and a
    // second evict still drops the new entries.
    val cache = SessionCache.catalog[String]("test")
    cache.getOrElseUpdate(spark, "dirC")("v1")
    SessionCache.evictSession(spark)
    assert(cache.activeCount(spark) === 0)
    cache.getOrElseUpdate(spark, "dirC")("v2")
    assert(cache.activeCount(spark) === 1)
    SessionCache.evictSession(spark)
    assert(cache.activeCount(spark) === 0)
  }
}
